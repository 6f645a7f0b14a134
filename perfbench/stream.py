"""wire_stream: the reference consumer path on Structured Streaming.

JSON wire messages, one file per trigger (maxFilesPerTrigger=1), each line
read as a binary ``value`` like a Kafka record, then
``parse_weather_wire(observe=True)`` → ``hourly_precipitation_aggregate``
→ ``run_foreach_batch(foreach_batch_parquet_writer)``. All input exists at
start (an availableNow replay), so the run measures throughput at a stated
input size and the time of each trigger, not event-to-emit latency.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import checks, inputs
from perfbench.probes import cpu_between

ROWS_PER_FILE = 10_000
N_KEYS = 2_000
# with two small warm-up files, trigger time still fell from about 1.1 s to
# 0.6 s over the timed replay's first ten triggers (JIT); full-size warm-up
# files take the replay's triggers past that slope
WARM_FILES = 8


def _replay(run, src: str, out: str, ckpt: str, writes: list[tuple[int, float, float]]):
    from pyspark.sql import functions as F

    from weather_stream_processor_spark.streaming.pipeline import (
        hourly_precipitation_aggregate,
        parse_weather_wire,
    )
    from weather_stream_processor_spark.streaming.sinks import (
        foreach_batch_parquet_writer,
        run_foreach_batch,
    )

    raw = (
        run.spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", 1)
        .text(src)
        .select(F.col("value").cast("binary").alias("value"))
    )
    agg = hourly_precipitation_aggregate(parse_weather_wire(raw, observe=True))
    write = foreach_batch_parquet_writer(out)

    def timed_write(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        write(batch_df, batch_id)
        writes.append((batch_id, t0, time.perf_counter()))

    return run_foreach_batch(agg, timed_write, ckpt)


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _sum(progress: list[dict], f) -> float:
    return float(sum(f(p) for p in progress))


def _rejected(progress: list[dict]) -> int:
    return int(
        sum(
            (p.get("observedMetrics", {}).get("parse_metrics", {}) or {}).get("rows_rejected") or 0
            for p in progress
        )
    )


def run_stream(run, seed: int, n_files: int) -> None:
    warm_seq, data_seq = np.random.SeedSequence(seed).spawn(2)
    g0 = time.perf_counter()
    warm_src = os.path.join(run.work, "wire_warm")
    src = os.path.join(run.work, "wire")
    warm_expect = inputs.wire_files(
        np.random.default_rng(warm_seq), warm_src, WARM_FILES, ROWS_PER_FILE, N_KEYS
    )
    expect = inputs.wire_files(np.random.default_rng(data_seq), src, n_files, ROWS_PER_FILE, N_KEYS)
    run.own_s += time.perf_counter() - g0

    run.start_session()
    # keep the progress of every trigger, for the checks and the trace
    run.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(n_files + 10))
    with run.tracer.span("warmup"):
        out = os.path.join(run.work, "sink_warm")
        try:
            q = _replay(run, warm_src, out, os.path.join(run.work, "ckpt_warm"), [])
            errors = checks.check_stream(out, warm_expect, _rejected(_progress(q)))
        except Exception:
            traceback.print_exc()
            errors = ["the warm-up replay raised"]
    run.attempted += 1
    if errors:
        run.failed += 1
        print("FAIL wire warm-up:", "; ".join(errors), file=sys.stderr)
    run.setup_done()

    out = os.path.join(run.work, "sink")
    writes: list[tuple[int, float, float]] = []
    if run.trace:
        run.store.read()  # the replay's jobs only
    cpu0 = run.cpu()
    t0 = time.perf_counter()
    try:
        with run.tracer.span("stream") as stream_span:
            q = _replay(run, src, out, os.path.join(run.work, "ckpt"), writes)
        failed_run = False
    except Exception:
        traceback.print_exc()
        failed_run, q = True, None
    wall = time.perf_counter() - t0
    cpu = cpu_between(cpu0, run.cpu())
    run.pass_done()

    progress = _progress(q) if q is not None else []
    triggers = [p for p in progress if "batchId" in p]
    durations = [p["durationMs"].get("triggerExecution", 0) for p in triggers]
    run.attempted += len(triggers) + 1
    if failed_run:
        run.failed += 1
    else:
        errors = checks.check_stream(out, expect, _rejected(triggers))
        if errors:
            run.failed += 1
            print("FAIL wire sink state:", "; ".join(errors), file=sys.stderr)

    run.e2e["pass_wall_s"] = wall
    run.e2e["pass_cpu_s"] = cpu.total
    # a replay that failed before its first trigger is timed as one trigger
    run.e2e["op_wall_ms"] = statistics.geometric_mean(durations or [1000 * wall])
    run.detail["op_samples"] = len(durations)
    run.detail["stream_rows"] = expect.rows
    run.detail["stream_rows_per_s"] = expect.rows / wall
    if run.trace:
        _trigger_spans(run.tracer, stream_span, triggers, writes)
        _layer_metrics(run, triggers, cpu, out, writes)


def _trigger_spans(tracer, parent: int, triggers: list[dict], writes) -> None:
    """stream → trigger → sink write. Triggers are timed from their progress
    (start timestamp + triggerExecution), moved onto the perf_counter clock."""
    from datetime import datetime

    shift = time.time() - time.perf_counter()
    ids = {}
    for p in triggers:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - shift
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000
        ids[p["batchId"]] = tracer.add("trigger", start, end, parent, batch_id=p["batchId"])
    for batch_id, t0, t1 in writes:
        tracer.add("sink_write", t0, t1, ids.get(batch_id, parent), batch_id=batch_id)


def _layer_metrics(run, triggers: list[dict], cpu, out: str, writes) -> None:
    lay = run.layer

    def dur(p, k):
        return p["durationMs"].get(k, 0)

    def state(p, k):
        return sum(op.get(k, 0) for op in p.get("stateOperators", []))

    lay["streaming.triggers"] = len(triggers)
    lay["streaming.source_ms"] = _sum(triggers, lambda p: dur(p, "latestOffset") + dur(p, "getBatch"))
    lay["streaming.planning_ms"] = _sum(triggers, lambda p: dur(p, "queryPlanning"))
    lay["streaming.add_batch_ms"] = _sum(triggers, lambda p: dur(p, "addBatch"))
    lay["streaming.checkpoint_ms"] = _sum(
        triggers, lambda p: dur(p, "walCommit") + dur(p, "commitOffsets")
    )
    lay["streaming.parse_rejected"] = _rejected(triggers)
    lay["streaming.late_dropped"] = _sum(triggers, lambda p: state(p, "numRowsDroppedByWatermark"))
    lay["streaming.state_commit_ms"] = _sum(triggers, lambda p: state(p, "commitTimeMs"))
    lay["streaming.state_rows"] = max((state(p, "numRowsTotal") for p in triggers), default=0)
    lay["streaming.state_mb"] = (
        max((state(p, "memoryUsedBytes") for p in triggers), default=0) / 2**20
    )
    lay["sinks.write_ms"] = 1000 * sum(t1 - t0 for _, t0, t1 in writes)
    lay["sinks.files_written"] = sum(
        f.endswith(".parquet") for _, _, files in os.walk(out) for f in files
    )
    # the timed replay does no tracing work: progress is read after it ends
    lay["trace.pass_overhead_s"] = 0.0
    lay["operators.driver_cpu_s"] = cpu.driver
    lay["operators.jvm_cpu_s"] = cpu.jvm
    lay["functions.pyworker_cpu_s"] = cpu.pyworker
    stats = run.store.read()
    lay["operators.exec_jobs"] = stats.jobs
    for key in ("stages", "stages_skipped", "task_run_s", "task_cpu_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "gc_s"):
        lay[f"operators.{key}"] = getattr(stats, key)
