"""Streaming-semantics tests: the behaviors the batch oracle can't see —
watermark late-data handling, checkpointed foreachBatch recovery, and the
dead-letter parse path."""

from __future__ import annotations

import os
import tempfile
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_foreach_batch_parquet_sink_is_checkpointed_and_idempotent(spark):
    from weather_stream_processor_spark.streaming.replay import events_replay_source
    from weather_stream_processor_spark.streaming.sinks import (
        foreach_batch_parquet_writer,
        run_foreach_batch,
    )

    out = tempfile.mkdtemp(prefix="sink_out_")
    ckpt = tempfile.mkdtemp(prefix="sink_ckpt_")

    def build():
        ev = events_replay_source(spark, SF_SMOKE)
        return (
            ev.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.round(F.sum("value"), 5).alias("total_value"))
            .select(F.col("w.start").alias("hour"), "event_type", "total_value")
        )

    run_foreach_batch(build(), foreach_batch_parquet_writer(out), ckpt, "update")
    first = spark.read.parquet(f"{out}/batch_id=*").count()
    assert first > 0

    # both checksum layers: Spark's checkpoint checksum (N.delta.crc) and
    # Hadoop's checksum file (.N.delta.crc) beside every state delta
    deltas = [
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(ckpt, "state"))
        for f in files
        if f.endswith(".delta")
    ]
    assert deltas
    for delta in deltas:
        d, f = os.path.split(delta)
        assert os.path.exists(f"{delta}.crc"), delta
        assert os.path.exists(os.path.join(d, f".{f}.crc")), delta

    # restart with the SAME checkpoint: offsets are committed, so the
    # replayed source has nothing new -> no further batches written
    run_foreach_batch(build(), foreach_batch_parquet_writer(out), ckpt, "update")
    second = spark.read.parquet(f"{out}/batch_id=*").count()
    assert second == first


@pytest.mark.parametrize("runner", ["memory", "foreach_batch"])
def test_bounded_replay_that_times_out_is_stopped_and_raises(spark, tmp_path, runner):
    from weather_stream_processor_spark.streaming.replay import run_to_memory
    from weather_stream_processor_spark.streaming.sinks import run_foreach_batch

    src = tmp_path / "src"
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(f"{src}/f{i}.parquet")
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    before = {q.id for q in spark.streams.active}
    name = f"timeout_{runner}_{int(time.time() * 1000)}"
    with pytest.raises(TimeoutError, match="did not drain") as err:
        if runner == "memory":
            run_to_memory(stream, name, timeout_s=0.01)
        else:
            run_foreach_batch(
                stream, lambda df, i: None, str(tmp_path / "ckpt"), timeout_s=0.01
            )
    if runner == "memory":
        assert name in str(err.value)
    assert {q.id for q in spark.streams.active} == before


def test_watermark_drops_late_data_in_append_mode(spark):
    src = tempfile.mkdtemp(prefix="late_src_")
    rows_on_time = [
        (1, datetime(2024, 1, 1, 10, 5), 1.0),
        (2, datetime(2024, 1, 1, 10, 40), 2.0),
        (3, datetime(2024, 1, 1, 13, 0), 4.0),  # advances watermark to 12:00
    ]
    late_rows = [(4, datetime(2024, 1, 1, 5, 0), 8.0)]  # far beyond watermark
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame(rows_on_time, schema).coalesce(1).write.parquet(
        f"{src}/f0.parquet"
    )

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        f"{src}/*.parquet"
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.round(F.sum("value"), 5).alias("total"))
        .select(F.col("w.start").alias("hour"), "total")
    )
    name = f"late_test_{int(time.time() * 1000)}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(late_rows, schema).coalesce(1).write.parquet(
            f"{src}/f1.parquet"
        )
        q.processAllAvailable()
        result = {r.hour: r.total for r in spark.table(name).collect()}
    finally:
        q.stop()

    # the 05:00 window arrived beyond the watermark -> dropped, never emitted
    assert datetime(2024, 1, 1, 5, 0) not in result
    # the 10:00 window closed once the watermark passed 11:00 and contains
    # only the on-time rows
    assert result.get(datetime(2024, 1, 1, 10, 0)) == 3.0


def test_dead_letter_quarantines_malformed_wire(spark):
    from weather_stream_processor_spark.streaming.pipeline import parse_weather_wire

    good = '{"timestamp": "1700000000", "total_precipitation": 1.5, "location": {"lat": 1.0, "lon": 2.0}}'
    null_field = '{"timestamp": "1700000000", "total_precipitation": null, "location": {"lat": 1.0, "lon": 2.0}}'
    garbage = "not json at all"
    wire = spark.createDataFrame(
        [(v.encode(),) for v in (good, null_field, garbage)], "value binary"
    )
    ok = parse_weather_wire(wire).collect()
    dead = parse_weather_wire(wire, dead_letter=True).collect()
    assert len(ok) == 1 and ok[0].total_precipitation == 1.5
    assert len(dead) == 2  # reference silently dropped these (wp.py:230-235)


def test_session_window_merges_and_splits(spark):
    from weather_stream_processor_spark.streaming.pipeline import session_aggregate

    src = tempfile.mkdtemp(prefix="sess_src_")
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1.0, 7),
        (2, datetime(2024, 1, 1, 10, 20), 2.0, 7),   # merges (gap 20m < 30m)
        (3, datetime(2024, 1, 1, 11, 30), 4.0, 7),   # new session (gap 70m)
        (4, datetime(2024, 1, 1, 10, 10), 8.0, 9),   # other user
    ]
    schema = "event_id long, ts timestamp, value double, user_id long"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f0.parquet")
    stream = spark.readStream.schema(schema).parquet(f"{src}/*.parquet")
    agg = session_aggregate(stream, "ts", ("user_id",), "value", gap="30 minutes")

    from weather_stream_processor_spark.streaming.replay import run_to_memory

    got = {
        (r.user_id, r.session_start, r.n_events, r.total_value)
        for r in run_to_memory(agg, f"sess_{int(time.time() * 1000)}").collect()
    }
    assert got == {
        (7, datetime(2024, 1, 1, 10, 0), 2, 3.0),
        (7, datetime(2024, 1, 1, 11, 30), 1, 4.0),
        (9, datetime(2024, 1, 1, 10, 10), 1, 8.0),
    }


def test_stateful_record_breakers_across_micro_batches(spark):
    """State must survive micro-batch boundaries: replay events as four
    time-ordered files, ONE file per trigger, and require the per-key
    running-max state carried across all four batches to reproduce the
    global batch answer exactly."""
    from pyspark.sql.window import Window

    from weather_stream_processor_spark.sources import load_table
    from weather_stream_processor_spark.streaming.replay import run_to_memory
    from weather_stream_processor_spark.streaming.stateful import (
        record_breaking_events,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    src = tempfile.mkdtemp(prefix="stateful_src_")
    quart = ev.withColumn(
        "q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        quart.filter(F.col("q") == i).drop("q").coalesce(1).write.parquet(
            f"{src}/part{i}.parquet"
        )
        # FileStreamSource orders files by modification time; make the
        # time-quartile order unambiguous
        t = time.time() + i
        for root, _, files in os.walk(f"{src}/part{i}.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part*.parquet")
    )
    got = {
        (r.user_id, r.event_id)
        for r in run_to_memory(
            record_breaking_events(stream), "stateful_xbatch", output_mode="append"
        ).collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    expected = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("prev_max", F.max("value").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("value") > F.col("prev_max")))
        .collect()
    }
    assert got == expected


def test_observed_parse_metrics_batch_and_stream(spark):
    """observe() metrics: rejected-row accounting with zero extra passes.
    Batch path uses Observation; streaming path reads observedMetrics off
    the query progress after a bounded replay."""
    from pyspark.sql import Observation
    from weather_stream_processor_spark.streaming.pipeline import (
        hourly_precipitation_aggregate,
        parse_weather_wire,
    )
    from weather_stream_processor_spark.streaming.replay import (
        events_as_weather_wire,
    )

    # batch: Observation wraps the same observe() call sites
    good = '{"timestamp": "1700000000", "total_precipitation": 1.5, "location": {"lat": 1.0, "lon": 2.0}}'
    garbage = "not json at all"
    wire = spark.createDataFrame(
        [(v.encode(),) for v in (good, good, garbage)], "value binary"
    )
    obs = Observation()
    parsed = wire.select(F.col("value")).transform(
        lambda df: parse_weather_wire(df)
    )
    # batch twin via Observation on the pre-filter projection
    from weather_stream_processor_spark.streaming import pipeline as P

    raw = wire.select(
        F.from_json(F.col("value").cast("string"), P.weather_wire_schema()).alias("m")
    ).select(
        F.timestamp_seconds(F.col("m.timestamp").cast("long")).alias("event_ts"),
        F.col("m.total_precipitation").alias("total_precipitation"),
        F.col("m.location.lat").alias("lat"),
        F.col("m.location.lon").alias("lon"),
    ).observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("event_ts").isNull(), 1).otherwise(0)).alias("rows_rejected"),
    )
    assert raw.filter(F.col("event_ts").isNotNull()).count() == 2
    assert obs.get["rows_in"] == 3 and obs.get["rows_rejected"] == 1
    assert parsed.count() == 2

    # streaming: the pipeline's own observe=True surfaces per-batch metrics
    import time

    wire_stream = events_as_weather_wire(spark, SF_SMOKE)
    agg = hourly_precipitation_aggregate(parse_weather_wire(wire_stream, observe=True))
    name = f"obs_{int(time.time() * 1000)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    observed = [
        p["observedMetrics"]["parse_metrics"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("parse_metrics")
    ]
    assert observed, "no parse_metrics in streaming progress"
    assert sum(m["rows_in"] for m in observed) == 1000  # sf0.001 events
    assert sum(m["rows_rejected"] for m in observed) == 0


def test_stream_stream_left_join_emits_unmatched(spark):
    """Outer stream-stream semantics: matched rows == the inner join's,
    unmatched views emitted null-padded after state eviction."""
    from weather_stream_processor_spark.registry import all_queries

    qs = all_queries()
    inner = qs["streaming_stream_stream_join"].builder(spark, SF_SMOKE).collect()
    left = qs["streaming_stream_stream_left_join"].builder(spark, SF_SMOKE).collect()
    inner_keys = {(r.user_id, r.view_id, r.purchase_id) for r in inner}
    matched = {(r.user_id, r.view_id, r.purchase_id) for r in left if r.purchase_id is not None}
    assert matched == inner_keys
    unmatched = [r for r in left if r.purchase_id is None]
    assert unmatched, "expected some views without a purchase within the hour"
    assert all(r.secs_to_purchase is None for r in unmatched)
    # every view appears at least once (left-preserving)
    inner_views = {r.view_id for r in inner}
    left_views = {r.view_id for r in left}
    assert inner_views <= left_views


def test_upsert_statement_dialects():
    from weather_stream_processor_spark.streaming.sinks import upsert_statements

    (merge,) = upsert_statements("hourly", "hourly__stage", ["h", "et"], ["v"], "merge")
    assert merge.startswith("MERGE INTO hourly t USING hourly__stage s ON ")
    assert "t.h = s.h AND t.et = s.et" in merge
    assert "WHEN MATCHED THEN UPDATE SET t.v = s.v" in merge
    assert "WHEN NOT MATCHED THEN INSERT (h, et, v) VALUES (s.h, s.et, s.v)" in merge

    (oc,) = upsert_statements("hourly", "hourly__stage", ["h"], ["v"], "on_conflict")
    assert oc == (
        "INSERT INTO hourly (h, v) SELECT h, v FROM hourly__stage "
        "ON CONFLICT (h) DO UPDATE SET v = excluded.v"
    )

    # key-only rows: merge has no MATCHED clause, on_conflict does nothing
    (merge_k,) = upsert_statements("t", "s", ["k"], [], "merge")
    assert "WHEN MATCHED" not in merge_k
    (oc_k,) = upsert_statements("t", "s", ["k"], [], "on_conflict")
    assert oc_k.endswith("DO NOTHING")

    with pytest.raises(ValueError, match="key column"):
        upsert_statements("t", "s", [], ["v"])
    with pytest.raises(ValueError, match="dialect"):
        upsert_statements("t", "s", ["k"], ["v"], "nope")


def test_jdbc_upsert_replay_has_no_duplicates(spark):
    """Quirk Q6 closed: replaying EVERY batch from scratch (fresh
    checkpoint = the worst-case checkpoint rollback) through the staging+
    upsert sink converges to the identical keyed state — where the
    reference's append sink double-inserts. The streaming machinery,
    batch dedup and upsert SQL are all real; only the JDBC transport is
    swapped for an embedded DuckDB store via the injectable seams (no
    JDBC driver jar ships in this sandbox)."""
    import duckdb

    from weather_stream_processor_spark.streaming.replay import events_replay_source
    from weather_stream_processor_spark.streaming.sinks import (
        foreach_batch_jdbc_upsert_writer,
        run_foreach_batch,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE hourly(hour TIMESTAMP, event_type VARCHAR, "
        "total_value DOUBLE, PRIMARY KEY (hour, event_type))"
    )

    def stage_writer(df, stage):
        pdf = df.toPandas()
        con.register("_stage_pdf", pdf)
        con.execute(f"CREATE OR REPLACE TABLE {stage} AS SELECT * FROM _stage_pdf")
        con.unregister("_stage_pdf")

    def exec_sql(statements):
        for s in statements:
            con.execute(s)

    sink = foreach_batch_jdbc_upsert_writer(
        url="jdbc:unused:",
        table="hourly",
        key_cols=["hour", "event_type"],
        properties={},
        dialect="on_conflict",
        stage_writer=stage_writer,
        exec_sql=exec_sql,
    )

    def build():
        ev = events_replay_source(spark, SF_SMOKE)
        return (
            ev.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.round(F.sum("value"), 5).alias("total_value"))
            .select(F.col("w.start").alias("hour"), "event_type", "total_value")
        )

    run_foreach_batch(build(), sink, tempfile.mkdtemp(prefix="ups_ck1_"), "update")
    first = con.execute(
        "SELECT hour, event_type, total_value FROM hourly ORDER BY 1, 2"
    ).fetchall()
    assert len(first) > 0
    keys = con.execute("SELECT COUNT(*) FROM hourly").fetchone()[0]
    distinct_keys = con.execute(
        "SELECT COUNT(*) FROM (SELECT DISTINCT hour, event_type FROM hourly)"
    ).fetchone()[0]
    assert keys == distinct_keys

    # corrupt one value, then replay everything with a FRESH checkpoint:
    # the keyed upsert must repair it and add zero duplicate rows
    con.execute("UPDATE hourly SET total_value = -1 WHERE rowid = 0")
    run_foreach_batch(build(), sink, tempfile.mkdtemp(prefix="ups_ck2_"), "update")
    second = con.execute(
        "SELECT hour, event_type, total_value FROM hourly ORDER BY 1, 2"
    ).fetchall()
    assert second == first


def test_merge_dialect_executes_through_a_real_sql_frontend(spark):
    """The MERGE dialect, end-to-end as far as this sandbox allows: the
    statements the upsert writer emits during a REAL checkpointed
    foreachBatch replay are fed to Spark's own SQL parser and must come
    back as structurally-correct MergeIntoTable plans (keyed match
    condition, UPDATE matched action, INSERT not-matched action) — a real
    SQL frontend, not a string assert. Literal *execution* of the same
    dialect is covered by test_merge_dialect_executes_live_on_derby."""
    from weather_stream_processor_spark.streaming.replay import events_replay_source
    from weather_stream_processor_spark.streaming.sinks import (
        foreach_batch_jdbc_upsert_writer,
        run_foreach_batch,
    )

    staged, merges = [], []
    sink = foreach_batch_jdbc_upsert_writer(
        url="jdbc:unused:",
        table="hourly",
        key_cols=["hour", "event_type"],
        properties={},
        dialect="merge",
        stage_writer=lambda df, stage: staged.append((stage, df.count())),
        exec_sql=lambda stmts: merges.extend(stmts),
        stage_suffix="qa",
    )
    ev = events_replay_source(spark, SF_SMOKE)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.round(F.sum("value"), 5).alias("total_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "total_value")
    )
    run_foreach_batch(agg, sink, tempfile.mkdtemp(prefix="ups_merge_"), "update")

    assert staged and merges
    # distinct-suffix stage name: two writers on one target can coexist
    assert all(stage == "hourly__stage_qa" for stage, _ in staged)
    parser = spark._jsparkSession.sessionState().sqlParser()
    for stmt in merges:
        plan = parser.parsePlan(stmt)  # ParseException = broken SQL
        assert plan.getClass().getSimpleName() == "MergeIntoTable"
        assert plan.matchedActions().size() == 1
        assert plan.notMatchedActions().size() == 1
        cond = plan.mergeCondition().sql()
        assert "hour" in cond and "event_type" in cond


def test_merge_dialect_executes_live_on_derby(spark):
    """The MERGE upsert path with ZERO injected seams: a checkpointed
    foreachBatch replay stages each micro-batch through executor-parallel
    ``write.jdbc`` (mode=overwrite) and the driver executes the literal
    ``upsert_statements(..., dialect="merge")`` output over a real
    ``java.sql.DriverManager`` connection — against embedded Apache Derby
    (>= 10.11 speaks ANSI MERGE; its jars ship on Spark's classpath for
    the metastore). Replaying everything from a fresh checkpoint after
    corrupting a row must repair the value and add zero rows: every step
    is overwrite-by-name or keyed-merge, so any replay converges.

    Scope notes: embedded Derby lives inside the (single) local-mode JVM,
    which is exactly why the executor stage-write works here; a real
    cluster points ``url`` at a network DB and nothing else changes. The
    key is the window-start timestamp — Spark's DerbyDialect maps
    StringType to CLOB, which Derby cannot compare, so string merge keys
    need ``createTableColumnTypes`` on a real deployment. Column names
    are UPPERCASE because Spark quotes identifiers in the CREATE/INSERT
    it issues for the stage (making them case-sensitive) while the
    generated MERGE leaves them unquoted (Derby folds to upper); upper
    names are the spelling both sides agree on."""
    from weather_stream_processor_spark.streaming.replay import events_replay_source
    from weather_stream_processor_spark.streaming.sinks import (
        foreach_batch_jdbc_upsert_writer,
        jdbc_exec_sql,
        run_foreach_batch,
    )

    db = os.path.join(tempfile.mkdtemp(prefix="derby_"), "upsertdb")
    # keep Derby's engine log out of the CWD (it writes ./derby.log on
    # first boot otherwise); must be set before the first connection loads
    # the embedded engine
    spark._jvm.System.setProperty(
        "derby.stream.error.file", os.path.join(os.path.dirname(db), "derby.log")
    )
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    run_sql = jdbc_exec_sql(url, props)
    run_sql(
        [
            "CREATE TABLE hourly (BUCKET_TS TIMESTAMP NOT NULL, "
            "TOTAL_VALUE DOUBLE, PRIMARY KEY (BUCKET_TS))"
        ]
    )

    sink = foreach_batch_jdbc_upsert_writer(
        url=url,
        table="hourly",
        key_cols=["BUCKET_TS"],
        properties=props,
        dialect="merge",
    )

    def build():
        ev = events_replay_source(spark, SF_SMOKE)
        return (
            ev.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.round(F.sum("value"), 5).alias("TOTAL_VALUE"))
            .select(F.col("w.start").alias("BUCKET_TS"), "TOTAL_VALUE")
        )

    run_foreach_batch(build(), sink, tempfile.mkdtemp(prefix="derby_ck1_"), "update")
    first = spark.read.jdbc(url=url, table="hourly", properties=props)
    first_rows = sorted(first.collect())
    assert len(first_rows) > 0
    assert len({r.BUCKET_TS for r in first_rows}) == len(first_rows)

    # corrupt one value, replay from a FRESH checkpoint (worst-case
    # checkpoint rollback): the keyed MERGE must repair it, add nothing
    run_sql(
        [
            "UPDATE hourly SET TOTAL_VALUE = -1 WHERE BUCKET_TS = "
            f"(SELECT MIN(BUCKET_TS) FROM hourly)"
        ]
    )
    run_foreach_batch(build(), sink, tempfile.mkdtemp(prefix="derby_ck2_"), "update")
    second_rows = sorted(
        spark.read.jdbc(url=url, table="hourly", properties=props).collect()
    )
    assert second_rows == first_rows


def test_upsert_rejects_quote_requiring_identifiers():
    """Interpolated identifiers are validated, not trusted: a name that
    would need quoting (hyphen, space, quote) must raise instead of
    producing broken/injectable SQL in the driver-side transaction."""
    from weather_stream_processor_spark.streaming.sinks import upsert_statements

    for bad_table in ("my-table", "t; DROP TABLE x", 'a"b'):
        with pytest.raises(ValueError, match="identifier"):
            upsert_statements(bad_table, "s", ["k"], ["v"])
    with pytest.raises(ValueError, match="identifier"):
        upsert_statements("t", "s", ["bad-key"], ["v"])
    with pytest.raises(ValueError, match="identifier"):
        upsert_statements("t", "s", ["k"], ["bad col"])
    # schema-qualified targets stay legal
    (ok,) = upsert_statements("analytics.hourly", "analytics.hourly__stage", ["k"], ["v"])
    assert ok.startswith("MERGE INTO analytics.hourly t")


def test_apply_trigger_lands_in_query_config():
    """St1: the CLI cadence knob must translate into the right trigger
    call — availableNow for bounded replays, processingTime for the
    reference's 60 s poll cadence (weather_stream.py:26), nothing when no
    interval is given."""
    from weather_stream_processor_spark.cli import apply_trigger

    calls = []

    class FakeWriter:
        def trigger(self, **kw):
            calls.append(kw)
            return self

    w = FakeWriter()
    assert apply_trigger(w, bounded=True, trigger_interval=None) is w
    assert calls == [{"availableNow": True}]

    calls.clear()
    apply_trigger(w, bounded=False, trigger_interval="60 seconds")
    assert calls == [{"processingTime": "60 seconds"}]

    calls.clear()
    assert apply_trigger(w, bounded=False, trigger_interval=None) is w
    assert calls == []


def test_cli_rejects_trigger_interval_with_bounded(tmp_path):
    from weather_stream_processor_spark.cli import main

    with pytest.raises(SystemExit):
        main(
            [
                "--source", "spool", "--spool-dir", str(tmp_path),
                "--sink", "console", "--checkpoint", str(tmp_path / "ck"),
                "--bounded", "--trigger-interval", "60 seconds",
            ]
        )


def test_kafka_contract_is_pinned():
    """The connector contract of the reference (consumer
    weather_processor.py:59-65, producer weather_stream.py:131-147) at
    plan level — fails if anyone renames a format or option, without
    needing a broker or the kafka jar."""
    from weather_stream_processor_spark.streaming.pipeline import (
        KAFKA_SOURCE_FORMAT,
        kafka_source_options,
    )
    from weather_stream_processor_spark.streaming.sinks import (
        KAFKA_SINK_FORMAT,
        kafka_sink_options,
    )

    assert KAFKA_SOURCE_FORMAT == "kafka"
    assert kafka_source_options("kafka:9092") == {
        "kafka.bootstrap.servers": "kafka:9092",
        "subscribe": "weather",
        "startingOffsets": "earliest",
    }
    assert KAFKA_SINK_FORMAT == "kafka"
    assert kafka_sink_options("kafka:9092", "weather", "/ckpt") == {
        "kafka.bootstrap.servers": "kafka:9092",
        "topic": "weather",
        "checkpointLocation": "/ckpt",
    }


def test_kafka_wire_value_roundtrip_is_lossless(spark):
    """K4's broker-free half (r4 verdict task 7): kafka_value_sink ships
    whatever sits in the binary ``value`` column, so the testable claim is
    that the producer serialization — to_json(struct(...)) cast to binary,
    the declarative twin of the reference's json.dumps
    (weather_stream.py:72-74) — survives the full wire path: serialize ->
    binary -> parse_weather_wire (cast + from_json through the declared
    schema) and comes back value-identical, including the epoch-string
    timestamp convention, a malformed payload (dead-lettered, not
    corrupted), and a missing optional field (null, not dropped)."""
    from weather_stream_processor_spark.streaming.pipeline import (
        parse_weather_wire,
        weather_wire_schema,
    )

    rows = [
        ("1700000000", 1.25, 38.7167, -9.1333),
        ("1700003600", 0.0, -33.8688, 151.2093),
        ("1700007200", 17.875, 0.0, 0.0),
    ]
    wire = (
        spark.createDataFrame(
            rows, "timestamp string, total_precipitation double, lat double, lon double"
        )
        .select(
            F.to_json(
                F.struct(
                    "timestamp",
                    "total_precipitation",
                    F.struct("lat", "lon").alias("location"),
                )
            )
            .cast("binary")
            .alias("value")
        )
    )
    # byte-level check: the serialized payload re-parses under the DECLARED
    # wire schema with zero nulls (any field-name/type drift between the
    # producer struct and weather_wire_schema() would null out here)
    reparsed = wire.select(
        F.from_json(F.col("value").cast("string"), weather_wire_schema()).alias("m")
    )
    assert reparsed.filter(
        F.col("m.timestamp").isNull()
        | F.col("m.total_precipitation").isNull()
        | F.col("m.location.lat").isNull()
    ).count() == 0

    got = sorted(
        (r.event_ts.timestamp(), r.total_precipitation, r.lat, r.lon)
        for r in parse_weather_wire(wire).collect()
    )
    want = sorted((float(ts), p, la, lo) for ts, p, la, lo in rows)
    assert got == want

    # malformed + partial payloads: broken JSON dead-letters; a missing
    # required field dead-letters; neither corrupts the good rows
    mixed = wire.unionAll(
        spark.createDataFrame(
            [("{not json",), ('{"timestamp":"1700000000"}',)], "value string"
        ).select(F.col("value").cast("binary").alias("value"))
    )
    assert parse_weather_wire(mixed).count() == len(rows)
    assert parse_weather_wire(mixed, dead_letter=True).count() == 2


def test_streaming_cusum_state_across_micro_batches(spark, duck):
    """The CUSUM monitor's five-bigint state (baseline moments + running
    deviation) must survive micro-batch boundaries: replay events as four
    time-ordered files, ONE per trigger — the baseline accumulates over
    early batches, monitoring continues over later ones — and the emitted
    rows must equal the relational oracle exactly."""
    from pyspark.sql.window import Window

    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.sources import load_table
    from weather_stream_processor_spark.streaming.replay import run_to_memory
    from weather_stream_processor_spark.streaming.stateful import (
        cusum_alert_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    min_day = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0")).collect()[0][
        "d0"
    ]
    from datetime import timedelta

    cutoff = min_day + timedelta(days=10)

    src = tempfile.mkdtemp(prefix="cusum_src_")
    quart = ev.withColumn("q", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for i in range(1, 5):
        quart.filter(F.col("q") == i).drop("q").coalesce(1).write.parquet(
            f"{src}/part{i}.parquet"
        )
        t = time.time() + i
        for root, _, files in os.walk(f"{src}/part{i}.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(
            "event_type string, event_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part*.parquet")
    )
    got = {
        (r.event_type, r.event_id, r.cusum, r.is_alert)
        for r in run_to_memory(
            cusum_alert_stream(stream, cutoff), "cusum_xbatch", output_mode="append"
        ).collect()
    }

    oracle = all_queries()["streaming_cusum_monitor"].oracle
    expected = {
        (r.event_type, r.event_id, r.cusum, r.is_alert)
        for r in duck.execute(oracle).fetchdf().itertuples(index=False)
    }
    assert got == expected


def test_streaming_cusum_checkpoint_restart_restores_state(spark, duck):
    """True RECOVERY, not just multi-batch: run the monitor to completion
    on the first half of the replay (checkpointed), STOP, then start a
    NEW query from the same checkpoint over the second half. The baseline
    moments and running deviation must restore from the state store — the
    union of both runs' emissions must equal the relational oracle."""
    from datetime import timedelta

    from pyspark.sql.window import Window

    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.sources import load_table
    from weather_stream_processor_spark.streaming.stateful import (
        cusum_alert_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    min_day = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0")).collect()[0][
        "d0"
    ]
    cutoff = min_day + timedelta(days=10)

    src = tempfile.mkdtemp(prefix="cusum_restart_src_")
    ck = tempfile.mkdtemp(prefix="cusum_restart_ck_")
    out = tempfile.mkdtemp(prefix="cusum_restart_out_")
    half = ev.withColumn("q", F.ntile(2).over(Window.orderBy("ts", "event_id")))

    def run_once():
        # memory sink refuses checkpoint recovery; the parquet sink is the
        # recovery-capable path (same as production)
        stream = spark.readStream.schema(
            "event_type string, event_id long, ts timestamp, value double"
        ).parquet(f"{src}/h*.parquet")
        q = (
            cusum_alert_stream(stream, cutoff)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        ex = q.exception()
        if ex is not None:
            raise ex

    half.filter(F.col("q") == 1).drop("q").coalesce(1).write.parquet(
        f"{src}/h1.parquet"
    )
    run_once()

    t = time.time() + 5
    half.filter(F.col("q") == 2).drop("q").coalesce(1).write.parquet(
        f"{src}/h2.parquet"
    )
    for root, _, files in os.walk(f"{src}/h2.parquet"):
        for f in files:
            os.utime(os.path.join(root, f), (t, t))
    run_once()

    got = {
        (r.event_type, r.event_id, r.cusum, r.is_alert)
        for r in spark.read.parquet(out).collect()
    }
    oracle = all_queries()["streaming_cusum_monitor"].oracle
    expected = {
        (r.event_type, r.event_id, r.cusum, r.is_alert)
        for r in duck.execute(oracle).fetchdf().itertuples(index=False)
    }
    assert got == expected


def test_streaming_pattern_checkpoint_restart_restores_pending(spark, duck):
    """Recovery proof for the sequence-pattern op: first half of the
    replay runs checkpointed, the query STOPS, a new query resumes from
    the checkpoint over the second half. Errors whose matching purchase
    falls in the OTHER half can only match if the pending-error list
    restores from the state store — the union of both runs' emissions
    must equal the relational range-join oracle."""
    from pyspark.sql.window import Window

    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.sources import load_table
    from weather_stream_processor_spark.streaming.stateful import (
        error_purchase_pattern_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    src = tempfile.mkdtemp(prefix="pattern_restart_src_")
    ck = tempfile.mkdtemp(prefix="pattern_restart_ck_")
    out = tempfile.mkdtemp(prefix="pattern_restart_out_")
    half = ev.withColumn("q", F.ntile(2).over(Window.orderBy("ts", "event_id")))

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, event_type string"
        ).parquet(f"{src}/h*.parquet")
        q = (
            error_purchase_pattern_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        ex = q.exception()
        if ex is not None:
            raise ex

    half.filter(F.col("q") == 1).drop("q").coalesce(1).write.parquet(
        f"{src}/h1.parquet"
    )
    run_once()
    t = time.time() + 5
    half.filter(F.col("q") == 2).drop("q").coalesce(1).write.parquet(
        f"{src}/h2.parquet"
    )
    for root, _, files in os.walk(f"{src}/h2.parquet"):
        for f in files:
            os.utime(os.path.join(root, f), (t, t))
    run_once()

    got = {
        (r.user_id, r.error_id, r.purchase_id, r.lag_sec)
        for r in spark.read.parquet(out).collect()
    }
    oracle = all_queries()["streaming_error_then_purchase"].oracle
    expected = {
        (r.user_id, r.error_id, r.purchase_id, r.lag_sec)
        for r in duck.execute(oracle).fetchdf().itertuples(index=False)
    }
    assert got == expected
    assert len(got) >= 3  # non-vacuous: matches exist at smoke scale


def test_streaming_scd2_state_survives_micro_batch_boundary(spark):
    """An SCD2 version OPENED in micro-batch 1 and CLOSED in micro-batch 2
    is emitted correctly — the open version must round-trip the state
    store across batches (the property a single-batch replay never
    exercises)."""
    import tempfile
    import time as _time

    from datetime import datetime

    from weather_stream_processor_spark.streaming.stateful import (
        scd2_closed_versions,
    )

    src = tempfile.mkdtemp(prefix="scd2_src_")
    schema = "user_id long, event_id long, ts timestamp, event_type string"
    batch1 = [
        (1, 1, datetime(2024, 1, 1, 10, 0), "a"),
        (1, 2, datetime(2024, 1, 1, 11, 0), "a"),
        (1, 3, datetime(2024, 1, 1, 12, 0), "b"),  # closes a, opens b
    ]
    batch2 = [
        (1, 4, datetime(2024, 1, 1, 13, 0), "b"),
        (1, 5, datetime(2024, 1, 1, 14, 0), "c"),  # closes b (cross-batch!)
        (2, 6, datetime(2024, 1, 1, 15, 0), "x"),  # new key, stays open
        (1, 7, datetime(2024, 1, 1, 16, 0), "a"),  # closes c
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        f"{src}/f0.parquet"
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*.parquet")
    name = f"scd2_xbatch_{int(_time.time() * 1000)}"
    q = (
        scd2_closed_versions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {
            (r["user_id"], r["attr_value"], r["version"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert mid == {(1, "a", 1)}, f"after batch 1: {mid}"
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
            f"{src}/f1.parquet"
        )
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["attr_value"], r["version"]): (
            r["valid_from"],
            r["valid_to"],
        )
        for r in rows
    }
    assert set(got) == {(1, "a", 1), (1, "b", 2), (1, "c", 3)}
    # the cross-batch closure: b opened at 12:00 in batch 1, closed at
    # 14:00 by batch 2 — valid_from must come from state, not the batch
    assert got[(1, "b", 2)] == (
        datetime(2024, 1, 1, 12, 0),
        datetime(2024, 1, 1, 14, 0),
    )
    assert got[(1, "c", 3)] == (
        datetime(2024, 1, 1, 14, 0),
        datetime(2024, 1, 1, 16, 0),
    )


def test_streaming_sprt_state_across_micro_batches(spark, duck):
    """The SPRT monitor's (successes, trials, decided) state must survive
    micro-batch boundaries AND keep the decision latched: replay events as
    four time-ordered files, one per trigger, and the emitted rows must
    equal the relational oracle exactly — including the decision labels of
    rows emitted in batches AFTER the batch where the boundary was
    crossed (the latch lives only in the state store)."""
    from pyspark.sql.window import Window

    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.sources import load_table
    from weather_stream_processor_spark.streaming.replay import run_to_memory
    from weather_stream_processor_spark.streaming.stateful import (
        sprt_decision_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    src = tempfile.mkdtemp(prefix="sprt_src_")
    quart = ev.withColumn(
        "q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        quart.filter(F.col("q") == i).drop("q").coalesce(1).write.parquet(
            f"{src}/part{i}.parquet"
        )
        t = time.time() + i
        for root, _, files in os.walk(f"{src}/part{i}.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(
            "event_type string, event_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part*.parquet")
    )
    got = {
        (r.event_type, r.event_id, r.llr, r.decision)
        for r in run_to_memory(
            sprt_decision_stream(stream), "sprt_xbatch", output_mode="append"
        ).collect()
    }

    oracle = all_queries()["streaming_sprt_monitor"].oracle
    expected = {
        (r.event_type, r.event_id, r.llr, r.decision)
        for r in duck.execute(oracle).fetchdf().itertuples(index=False)
    }
    assert got == expected
    # the latch must actually engage on the fixture (otherwise this test
    # proves nothing about decided-state persistence)
    assert any(d != "continue" for _, _, _, d in got)


def test_streaming_funnel_discovery_state_crosses_micro_batches(spark, duck):
    """Split the replay into 4 time-ordered micro-batches (one file per
    trigger): a user's funnel prefix must continue across batch
    boundaries — a letter first seen in batch 1 must NOT re-emit in
    batch 3 — and the full emission set must equal the relational
    oracle's windowed reconstruction."""
    from pyspark.sql.window import Window

    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.sources import load_table
    from weather_stream_processor_spark.streaming.replay import run_to_memory
    from weather_stream_processor_spark.streaming.stateful import (
        funnel_discovery_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    src = tempfile.mkdtemp(prefix="funnel_src_")
    quart = ev.withColumn(
        "q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        quart.filter(F.col("q") == i).drop("q").coalesce(1).write.parquet(
            f"{src}/part{i}.parquet"
        )
        t = time.time() + i
        for root, _, files in os.walk(f"{src}/part{i}.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part*.parquet")
    )
    rows = run_to_memory(
        funnel_discovery_stream(stream), "funnel_xbatch", output_mode="append"
    ).collect()
    got = {(r.user_id, r.event_id, r.step, r.seq_so_far) for r in rows}

    oracle = all_queries()["streaming_funnel_discovery"].oracle
    expected = {
        (r.user_id, r.event_id, r.step, r.seq_so_far)
        for r in duck.execute(oracle).fetchdf().itertuples(index=False)
    }
    assert got == expected
    # per-user emissions are a strict prefix chain: step k's sequence is
    # step k-1's plus one letter, and no letter ever repeats
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.step, r.seq_so_far))
    for chain in by_user.values():
        chain.sort()
        for (s1, q1), (s2, q2) in zip(chain, chain[1:]):
            assert s2 == s1 + 1 and q2.startswith(q1) and len(q2) == s2
            assert len(set(q2)) == len(q2)
