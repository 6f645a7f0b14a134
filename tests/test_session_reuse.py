"""Plan-time work a long-lived session must not repeat.

- Whole-stage codegen: the session factory sizes Spark's codegen cache
  (default 100 classes) to the engine's working set, so a warm re-run of
  a query set compiles nothing.
- Parquet schema inference: ``load_table`` and the replay source share one
  per-session memo, so a file the session has read is not re-inferred
  until it is rewritten or an inference conf changes.

- Streaming checkpoints: a local session writes them through Spark's
  FileSystem-based checkpoint manager, which renames without the
  ``readlink`` fork per call that the FileContext default costs when
  libhadoop is absent.

Compilations and inference jobs are counted with ``bench.PlanTimeCounters``
(CodegenMetrics and the status store, no UI).
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bench import PlanTimeCounters
from weather_stream_processor_spark.sources import load_table
from weather_stream_processor_spark.streaming.replay import events_replay_source

# distinct generated classes of one 58-query headline pass, measured on
# 4 cores (an ops pass: ~305; the full registry: ~6,870)
HEADLINE_CLASSES = 1095

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def counters(spark):
    return PlanTimeCounters(spark)


def _inference_jobs(counters, body) -> int:
    counters.begin()
    body()
    return counters.end()["schema_inference_jobs"]


def test_codegen_cache_covers_the_headline_working_set(spark):
    cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert cap >= HEADLINE_CLASSES


def test_warm_rerun_of_a_wide_query_set_does_not_recompile(spark, counters):
    # one job whose union children are separate codegen stages: 150
    # distinct generated classes, more than Spark's default cache holds
    def query_set():
        parts = [
            spark.range(0, 1, 1, 1).selectExpr(f"id * {7919 + i} + {104729 + i} AS v")
            for i in range(150)
        ]
        assert len(reduce(lambda a, b: a.unionAll(b), parts).collect()) == 150

    counters.begin()
    query_set()
    first = counters.end()["codegen_compilations"]
    counters.begin()
    query_set()
    second = counters.end()["codegen_compilations"]
    assert first > 100
    assert second <= 0.05 * first


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_load_table_infers_a_file_once(spark, counters, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=[0, 1], r_name=["A", "B"])
    frames = []
    n = _inference_jobs(
        counters,
        lambda: frames.extend(load_table(spark, str(tmp_path), "region") for _ in range(2)),
    )
    assert n == 1
    a, b = frames
    assert a.schema == b.schema
    assert sorted(a.collect()) == sorted(b.collect())


def test_rewrite_conf_flip_or_new_session_reinfers_once(spark, counters, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/orders.parquet")  # a directory of parts

    def load_twice(session=spark):
        return lambda: [load_table(session, d, "orders") for _ in range(2)]

    assert _inference_jobs(counters, load_twice()) == 1
    spark.range(3).selectExpr("id", "id * 2 AS x").write.mode("overwrite").parquet(
        f"{d}/orders.parquet"
    )
    assert _inference_jobs(counters, load_twice()) == 1
    assert load_table(spark, d, "orders").columns == ["id", "x"]
    spark.conf.set(NANOS, "false")
    try:
        assert _inference_jobs(counters, load_twice()) == 1
    finally:
        spark.conf.set(NANOS, "true")
    assert _inference_jobs(counters, load_twice()) == 0
    assert _inference_jobs(counters, load_twice(spark.newSession())) == 1


def test_replay_source_reuses_the_load_table_schema(spark, counters, tmp_path):
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1, h) for h in range(3)]
    _write(tmp_path / "events.parquet", user_id=[1, 2, 3], ts=ts, value=[0.5, 1.0, 1.5])
    batch = load_table(spark, str(tmp_path), "events")
    stream = []
    n = _inference_jobs(counters, lambda: stream.append(events_replay_source(spark, str(tmp_path))))
    assert n == 0
    assert stream[0].isStreaming
    assert stream[0].schema == batch.schema


def test_local_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    # the Hadoop conf a streaming query hands its checkpoint layer: the
    # session's SQL confs on top of the context's Hadoop conf
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}")
    manager = managers.CheckpointFileManager.create(path, hadoop_conf)
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
