"""ops_sf0.01: one closed-loop client runs one query at a time.

Per run: a check pass on a warm-up copy (builder + collect, compared with
the DuckDB oracle), an untimed pass at full size that finishes warming the
JVM, then the timed passes. Each full-size pass reads a fresh copy with its
own seeded row order and path, so nothing keyed by path or file stat carries
from one pass into the next. A timed query is its builder call plus a
noop-sink write of the result.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import checks, inputs
from perfbench.probes import JobStats, cpu_between
from perfbench.workloads import OPS_QUERIES, TRACED_QUERIES

SCALE = 1.0  # timed copies, × the sf0.01 fixture's row counts
WARM_SCALE = 0.5  # the check / warm-up copy


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def make_inputs(seed: int, passes: int, work: str) -> tuple[str, list[str]]:
    """Write the warm-up copy and one copy per timed pass; return their dirs."""
    warm_seq, warm_order, data_seq, *order_seqs = np.random.SeedSequence(seed).spawn(3 + passes)
    warm_dir = os.path.join(work, "warm")
    warm = inputs.base_tables(np.random.default_rng(warm_seq), WARM_SCALE)
    inputs.write_tables(np.random.default_rng(warm_order), warm, warm_dir)
    # the timed copies hold the same rows, each in its own order and path
    tables = inputs.base_tables(np.random.default_rng(data_seq), SCALE)
    dirs = []
    for p, seq in enumerate(order_seqs):
        d = os.path.join(work, f"pass{p}")
        inputs.write_tables(np.random.default_rng(seq), tables, d)
        dirs.append(d)
    return warm_dir, dirs


def check_pass(run, queries: list[str], sf_dir: str) -> tuple[int, float]:
    """Run every query once on ``sf_dir`` and compare with the oracle.

    Returns (failures, seconds spent in the oracle and comparison), so the
    caller can keep the benchmark's own checking out of set-up time.
    """
    con = checks.oracle_connection(sf_dir)
    failed, own_s = 0, 0.0
    for name in queries:
        q = run.specs[name]
        if q.oracle is None:
            raise ValueError(f"{name} has no oracle; a workload must be checkable")
        try:
            got = q.builder(run.spark, sf_dir).toPandas()
        except Exception:
            traceback.print_exc()
            print(f"FAIL {name}: raised on the check copy", file=sys.stderr)
            failed += 1
            continue
        t0 = time.perf_counter()
        want = con.execute(q.oracle).fetchdf()
        findings = []
        if name in checks.LSH_QUERIES:
            want, lsh = checks.lsh_unreachable(run.spark, sf_dir, got, want)
            findings.append(lsh)
        why, finding = checks.compare(got, want)
        own_s += time.perf_counter() - t0
        for finding in filter(None, findings + [finding]):
            print(f"FINDING {name}: {finding}", file=sys.stderr)
            run.detail.setdefault("findings", []).append(f"{name}: {finding}")
        if why:
            print(f"FAIL {name}: {why}", file=sys.stderr)
            failed += 1
    con.close()
    return failed, own_s


def timed_pass(run, queries: list[str], sf_dir: str, traced: bool) -> dict:
    """One pass over the workload's queries; per-query spans when traced."""
    store = run.store if traced else None
    if store is not None:
        store.read()  # start the pass with nothing pending
    cpu0 = run.cpu()
    t0 = time.perf_counter()
    walls, failed = [], 0
    per_query: dict[str, dict] = {}
    build = JobStats()
    execs = JobStats()
    build_s = exec_s = 0.0
    with run.tracer.span("pass", dir=os.path.basename(sf_dir)):
        for name in queries:
            q0 = time.perf_counter()
            rec = {}
            try:
                with run.tracer.span("query", query=name):
                    with run.tracer.span("builder"):
                        df = run.specs[name].builder(run.spark, sf_dir)
                    q1 = time.perf_counter()
                    if store is not None:
                        b = store.read()
                        build += b
                        rec["jobs"] = b.jobs
                    q2 = time.perf_counter()
                    with run.tracer.span("materialize"):
                        _noop(df)
                    q3 = time.perf_counter()
                    if store is not None:
                        e = store.read()
                        execs += e
                        rec["jobs"] += e.jobs
                rec["build_s"], rec["exec_s"] = q1 - q0, q3 - q2
                build_s += rec["build_s"]
                exec_s += rec["exec_s"]
                per_query[name] = rec
            except Exception:
                traceback.print_exc()
                print(f"FAIL {name}: raised in a timed pass", file=sys.stderr)
                failed += 1
            walls.append(time.perf_counter() - q0)
    wall = time.perf_counter() - t0
    cpu = cpu_between(cpu0, run.cpu())
    return {
        "wall": wall,
        "cpu": cpu,
        "query_walls": walls,
        "failed": failed,
        "build_s": build_s,
        "exec_s": exec_s,
        "build": build,
        "exec": execs,
        "per_query": per_query,
    }


def run_batch(run, seed: int, passes: int) -> None:
    queries = OPS_QUERIES
    # a traced run times one untraced pass, to price the tracing, then one
    # traced pass
    if run.trace:
        passes = 2
    g0 = time.perf_counter()
    # one more full-size copy than timed passes: the untimed warm pass
    warm_dir, (jit_dir, *dirs) = make_inputs(seed, passes + 1, run.work)
    run.own_s += time.perf_counter() - g0

    run.start_session()
    with run.tracer.span("warmup_check"):
        failed, own = check_pass(run, queries, warm_dir)
    run.own_s += own
    run.attempted += len(queries)
    run.failed += failed
    # after the check pass the first full-size pass still ran 10-20% slower
    # than the next (JIT and class loading: about 10 s more CPU), so it is
    # part of set-up, not a timed pass
    with run.tracer.span("warmup_pass"):
        warm = timed_pass(run, queries, jit_dir, traced=False)
    run.attempted += len(queries)
    run.failed += warm["failed"]
    if run.trace:
        run.layer["sources.load_s"] = run.load_tables(warm_dir)
    run.setup_done()

    results = []
    for p, d in enumerate(dirs):
        traced = run.trace and p > 0
        results.append(timed_pass(run, queries, d, traced))
        run.pass_done()
    for r in results:
        run.attempted += len(queries)
        run.failed += r["failed"]

    # the fastest pass: interference from outside the run only ever slows
    # a pass down, so the minimum is the steadiest estimate of the program
    walls = [r["wall"] for r in results]
    run.e2e["pass_wall_s"] = min(walls)
    run.e2e["pass_cpu_s"] = min(r["cpu"].total for r in results)
    best = [min(r["query_walls"][i] for r in results) for i in range(len(queries))]
    run.e2e["op_wall_ms"] = 1000 * statistics.geometric_mean(best)
    run.detail["op_samples"] = len(best)
    run.detail["pass_walls_s"] = [round(w, 4) for w in walls]
    run.detail["pass_cpu_s"] = [round(r["cpu"].total, 3) for r in results]
    run.detail["query_best_s"] = {n: round(w, 3) for n, w in zip(queries, best)}
    if run.trace:
        _layer_metrics(run, results[1], walls[1] - walls[0])


def _layer_metrics(run, r: dict, overhead_s: float) -> None:
    """Per-layer metrics of the traced pass ``r``."""
    lay = run.layer
    lay["operators.build_s"] = r["build_s"]
    lay["plans.build_jobs"] = r["build"].jobs
    lay["operators.exec_s"] = r["exec_s"]
    lay["operators.exec_jobs"] = r["exec"].jobs
    for key in ("stages", "stages_skipped", "task_run_s", "task_cpu_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "gc_s"):
        lay[f"operators.{key}"] = getattr(r["build"], key) + getattr(r["exec"], key)
    lay["operators.driver_cpu_s"] = r["cpu"].driver
    lay["operators.jvm_cpu_s"] = r["cpu"].jvm
    lay["functions.pyworker_cpu_s"] = r["cpu"].pyworker
    for name in TRACED_QUERIES:
        rec = r["per_query"].get(name)
        if rec:
            lay[f"q.{name}.build_s"] = rec["build_s"]
            lay[f"q.{name}.exec_s"] = rec["exec_s"]
            lay[f"q.{name}.jobs"] = rec["jobs"]
    # every query's Spark jobs: exact counters repeat from run to run on the
    # same seed; AQE-dependent ones vary
    run.detail["query_jobs"] = {name: rec["jobs"] for name, rec in r["per_query"].items()}
    lay["trace.pass_overhead_s"] = overhead_s
