"""Micro-batch sinks (SURVEY §2.4 K2/K3/K5, rebuilt).

The reference's sink (weather_processor.py:224-259) collect()s every batch
to the driver and INSERTs row-by-row over one psycopg2 connection, catching
and swallowing all errors while offsets advance. Replacements:

- foreach_batch_jdbc_writer: executor-parallel ``batch_df.write.jdbc`` with
  connector-level batching; per-batch dedup on the grouping key makes the
  append idempotent under update-mode re-emission (Q6). Errors propagate so
  Structured Streaming retries the batch (offsets do NOT advance past a
  failed write).
- foreach_batch_parquet_writer: the analytical-store sink — partitioned
  parquet append, exactly-once per batch via deterministic overwrite of the
  batch's own output path.

Both are plain functions returning a ``foreachBatch`` callable; the runner
must always pass ``checkpointLocation`` (Q5).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame

from weather_stream_processor_spark.streaming.replay import await_drained


def foreach_batch_jdbc_writer(
    url: str,
    table: str,
    properties: dict[str, str],
    dedup_keys: list[str] | None = None,
    batchsize: int = 10_000,
) -> Callable[[DataFrame, int], None]:
    """JDBC batch writer: executors write partitions in parallel with
    statement batching — no driver collect, no per-row round-trips.

    For true upsert targets, write to a staging table here and MERGE in the
    same transaction (connector-specific); append+dedup suffices for the
    reference's accumulate-snapshots semantics.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.dropDuplicates(dedup_keys) if dedup_keys else batch_df
        props = {**properties, "batchsize": str(batchsize)}
        out.write.jdbc(url=url, table=table, mode="append", properties=props)

    return write


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _check_identifier(name: str, dotted: bool = False) -> None:
    """Reject identifiers that would need quoting (reserved words aside,
    hyphens, spaces, mixed-case-sensitive names): these SQL strings are
    built by interpolation and run driver-side in one transaction, so a
    config-supplied name is otherwise an injection surface."""
    parts = name.split(".") if dotted else [name]
    if not parts or not all(_IDENT.match(p) for p in parts):
        raise ValueError(
            f"identifier {name!r} is not a plain [A-Za-z_][A-Za-z0-9_]* name"
            + ("(optionally schema-qualified)" if dotted else "")
            + "; quote-requiring identifiers are not supported by the "
            "interpolated upsert SQL"
        )


def upsert_statements(
    table: str,
    stage: str,
    key_cols: list[str],
    val_cols: list[str],
    dialect: str = "merge",
) -> list[str]:
    """SQL for an idempotent keyed upsert of ``stage`` into ``table``.

    dialect="merge": ANSI/Spark/SQL-Server/Oracle/Derby ``MERGE INTO``.
    The matched-update SET targets are qualified with the target alias
    (``t.col = s.col``): Derby rejects the unqualified form inside an
    aliased MERGE (it loses the source correlation scope), and the
    qualified form is the one every mainstream MERGE dialect documents.
    Executed literally against embedded Derby in
    ``tests/test_streaming.py::test_merge_dialect_executes_live_on_derby``.
    dialect="on_conflict": Postgres/SQLite/DuckDB ``INSERT .. ON CONFLICT``
    (requires a unique/PK constraint on the key columns — the constraint
    the reference's init.sql:1-7 never declared, which is why its replayed
    batches double-insert, quirk Q6).
    """
    if not key_cols:
        raise ValueError("upsert requires at least one key column")
    for ident in (table, stage):
        _check_identifier(ident, dotted=True)
    for ident in list(key_cols) + list(val_cols):
        _check_identifier(ident)
    cols = list(key_cols) + list(val_cols)
    col_list = ", ".join(cols)
    if dialect == "merge":
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        ins = ", ".join(f"s.{c}" for c in cols)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"t.{c} = s.{c}" for c in val_cols)
            + " "
            if val_cols
            else ""
        )
        return [
            f"MERGE INTO {table} t USING {stage} s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({ins})"
        ]
    if dialect == "on_conflict":
        keys = ", ".join(key_cols)
        action = (
            "DO UPDATE SET " + ", ".join(f"{c} = excluded.{c}" for c in val_cols)
            if val_cols
            else "DO NOTHING"
        )
        return [
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {stage} "
            f"ON CONFLICT ({keys}) {action}"
        ]
    raise ValueError(f"unknown upsert dialect: {dialect!r}")


def jdbc_exec_sql(url: str, properties: dict[str, str]):
    """Driver-side JDBC statement runner: ONE connection, ONE transaction
    (all statements commit together or roll back together). Uses the JVM's
    ``java.sql.DriverManager`` already on Spark's classpath — no Python DB
    driver needed. This runs O(1) statements per micro-batch on the driver;
    the bulk data path stays the executor-parallel stage write."""

    def run(statements: list[str]) -> None:
        from pyspark.sql import SparkSession

        jvm = SparkSession.getActiveSession()._jvm
        props = jvm.java.util.Properties()
        for k, v in properties.items():
            props.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            conn.setAutoCommit(False)
            stmt = conn.createStatement()
            for s in statements:
                stmt.execute(s)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return run


def foreach_batch_jdbc_upsert_writer(
    url: str,
    table: str,
    key_cols: list[str],
    properties: dict[str, str],
    dialect: str = "merge",
    batchsize: int = 10_000,
    stage_writer=None,
    exec_sql=None,
    stage_suffix: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Truly idempotent JDBC sink (SURVEY §4.3 staging + MERGE; closes the
    reference's quirk Q6 fully — weather_processor.py:224-259 appends with
    no key, so a batch replayed after a checkpoint rollback double-inserts).

    Per micro-batch: (1) dedup the batch on the key, (2) executors
    bulk-write it to a per-target staging table with ``mode=overwrite`` —
    a replayed batch rewrites the stage, never appends, (3) the driver
    runs the dialect's keyed upsert in one transaction. Replaying any
    batch any number of times converges to the same target state, because
    every step is either overwrite-by-name or keyed-merge. Errors in
    either step propagate, so offsets never advance past a failed write.

    ``stage_writer(df, stage_table)`` / ``exec_sql(statements)`` are
    injectable seams: tests drive the identical orchestration against an
    embedded store (no JDBC driver jar ships in this sandbox); production
    uses the defaults (executor-parallel ``write.jdbc`` + DriverManager).

    CONCURRENCY: the stage table name is fixed per (target, stage_suffix).
    With the default suffix, exactly ONE streaming query may upsert a
    given target — two concurrent writers would clobber each other's
    stage between the overwrite and the MERGE, merging wrong rows rather
    than failing cleanly. Multiple writers must each pass a distinct
    ``stage_suffix`` (e.g. the query name); replays of the SAME query
    must keep the same suffix so the overwrite stays idempotent.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.dropDuplicates(list(key_cols))
        stage = f"{table}__stage" + (f"_{stage_suffix}" if stage_suffix else "")
        val_cols = [c for c in out.columns if c not in key_cols]
        if stage_writer is not None:
            stage_writer(out, stage)
        else:
            out.write.jdbc(
                url=url,
                table=stage,
                mode="overwrite",
                properties={**properties, "batchsize": str(batchsize)},
            )
        run_sql = exec_sql if exec_sql is not None else jdbc_exec_sql(url, properties)
        run_sql(upsert_statements(table, stage, list(key_cols), val_cols, dialect))

    return write


def foreach_batch_parquet_writer(
    base_path: str, partition_cols: list[str] | None = None
) -> Callable[[DataFrame, int], None]:
    """Parquet sink with per-batch-id output paths: re-running a batch
    overwrites its own directory (idempotent replay after failure), never
    another batch's."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(os.path.join(base_path, f"batch_id={batch_id}"))

    return write


KAFKA_SINK_FORMAT = "kafka"


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """Producer-side contract of the reference (weather_stream.py:131-147,
    docker-compose.yml:122-129) as a pure dict, pinnable in tests without
    a broker."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_value_sink(
    stream_df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    output_mode: str = "append",
):
    """Kafka producer sink (SURVEY §2.4 K4, rebuilt): the input must carry a
    binary/string ``value`` column (use to_json(struct(...)) upstream, the
    declarative twin of the reference's json.dumps serializer,
    weather_stream.py:72-74). Delivery is the connector's at-least-once
    with checkpointed offsets — no per-message blocking ack (the
    reference's .get(timeout=30) capped throughput at one message per
    round-trip, weather_stream.py:142).

    Requires the spark-sql-kafka package on the classpath; not bundled in
    this test environment (the parquet/JDBC sinks are the test twins).
    """
    return (
        stream_df.writeStream.format(KAFKA_SINK_FORMAT)
        .options(**kafka_sink_options(bootstrap_servers, topic, checkpoint_dir))
        .outputMode(output_mode)
        .start()
    )


def run_foreach_batch(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "update",
    timeout_s: float = 300,
):
    """Start a checkpointed foreachBatch query with availableNow and block
    until the replay drains (``TimeoutError`` after ``timeout_s``; see
    ``replay.await_drained``). checkpointLocation is mandatory (fixes Q5)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, timeout_s)
    return q
