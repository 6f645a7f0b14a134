"""Tests of the benchmark's own parts: inputs, checks and probes.

    python3 -m pytest perfbench/tests -q

The Spark tests start one small local session (2 cores) for the module.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, inputs
from perfbench.probes import CpuSampler, cpu_between, cpu_snapshot

ROOT = Path(__file__).resolve().parents[2]


def test_same_seed_same_inputs(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        t = inputs.base_tables(np.random.default_rng(seed), 0.1)
        inputs.write_tables(np.random.default_rng(seed), t, str(tmp_path / d))
    same = [(tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
            for f in os.listdir(tmp_path / "a")]
    assert len(same) == 10 and all(same)
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (
        tmp_path / "c" / "lineitem.parquet"
    ).read_bytes()


def test_wire_expectation_matches_its_own_files(tmp_path):
    """Re-derive the generator's promise from the files it wrote."""
    expect = inputs.wire_files(np.random.default_rng(3), str(tmp_path), 6, 2_000, 50)
    rejected, sums, newest, lateness = 0, {}, -1, 0
    for name in sorted(os.listdir(tmp_path)):
        batch_newest = newest
        for line in (tmp_path / name).read_text().splitlines():
            try:
                m = json.loads(line)
            except json.JSONDecodeError:
                rejected += 1
                continue
            loc = m["location"]
            if m["total_precipitation"] is None or loc is None or loc["lat"] is None:
                rejected += 1
                continue
            ts = int(m["timestamp"])
            lateness = max(lateness, newest - ts)
            batch_newest = max(batch_newest, ts)
            key = (ts // 3600 * 3600, loc["lat"], loc["lon"])
            sums[key] = sums.get(key, 0) + round(m["total_precipitation"] * 100)
        newest = batch_newest
    assert expect.rows == 12_000
    assert rejected == expect.rejected > 0
    assert sums == expect.hourly_cents
    assert 0 < lateness < 2 * 3600  # out of order, but inside the watermark


def test_compare_is_order_insensitive_and_exact():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    assert checks.compare(want.iloc[::-1], want) == (None, None)
    assert "differ" in checks.compare(want.assign(v=[0.1, 0.2, 0.35]), want)[0]
    assert "rows" in checks.compare(want.iloc[:2], want)[0]
    assert "differ" in checks.compare(want.assign(k=[1, 2, 4]), want)[0]


def test_last_digit_flip_is_a_finding_not_a_failure():
    want = pd.DataFrame({"k": [1, 2], "revenue": [583361.7, 12.25]})
    got = want.assign(revenue=[583361.71, 12.25])
    why, finding = checks.compare(got, want)
    assert why is None and "row-order" in finding
    assert checks.compare(want.assign(revenue=[583361.73, 12.25]), want)[0]


def test_corrupted_stream_expectation_fails(tmp_path):
    out = tmp_path / "sink" / "batch_id=0"
    out.mkdir(parents=True)
    frame = pd.DataFrame(
        {
            "hour": pd.to_datetime([3600, 7200], unit="s"),
            "lat": [1.5, 2.5],
            "lon": [-1.0, -2.0],
            "hourly_precipitation": [0.25, 1.0],
        }
    )
    frame.to_parquet(out / "part-0.parquet")
    good = inputs.WireStream(rows=9, rejected=2, hourly_cents={
        (3600, 1.5, -1.0): 25, (7200, 2.5, -2.0): 100})
    assert checks.check_stream(str(tmp_path / "sink"), good, 2) == []
    bad = inputs.WireStream(rows=9, rejected=2, hourly_cents={
        (3600, 1.5, -1.0): 26, (7200, 2.5, -2.0): 100})
    assert checks.check_stream(str(tmp_path / "sink"), bad, 2)
    assert checks.check_stream(str(tmp_path / "sink"), good, 3)


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails fast and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wire_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from weather_stream_processor_spark.session import get_spark

    session = get_spark(
        "perfbench-tests",
        extra_conf={
            # one worker per task, so finished workers are reaped mid-run
            "spark.python.worker.reuse": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield session
    session.stop()


def test_map_in_pandas_cpu_lands_in_pyworker(spark):
    def _burn(batches):  # nested, so the workers receive it by value
        import time

        import pandas as pd

        for pdf in batches:
            t0 = time.process_time()
            while time.process_time() - t0 < 0.5:
                pass
            yield pd.DataFrame({"id": pdf["id"]})

    def run_job():
        spark.range(8).repartition(4).mapInPandas(_burn, "id long").write.format(
            "noop"
        ).mode("overwrite").save()

    run_job()  # start the daemon
    sampler = CpuSampler()
    try:
        before = sampler.snapshot()
        run_job()
        time.sleep(0.3)
        used = cpu_between(before, sampler.snapshot())
    finally:
        sampler.close()
    # four tasks each burn 0.5 s of Python CPU, in workers that have exited
    # (worker reuse is off) and were reaped without a wait
    assert used.pyworker >= 1.6, used
    assert used.pyworker > used.jvm, used


_FORK_AND_IGNORE = """
import os, signal, time
signal.signal(signal.SIGCHLD, signal.SIG_IGN)  # as the pyspark daemon does
if os.fork() == 0:
    t = time.process_time()
    while time.process_time() - t < 0.5:
        pass
    os._exit(0)
time.sleep(1.0)  # the grandchild is reaped by the kernel meanwhile
"""


def test_cpu_of_a_worker_reaped_without_wait_is_kept_once():
    sampler = CpuSampler(interval=0.05)
    try:
        before = sampler.snapshot()
        child = subprocess.Popen([sys.executable, "-c", _FORK_AND_IGNORE])
        child.wait(timeout=30)  # the child's own CPU lands in our cutime
        used = cpu_between(before, sampler.snapshot()).total
    finally:
        sampler.close()
    assert 0.4 <= used < 0.9  # the grandchild's 0.5 s, counted once
    assert cpu_between(before, cpu_snapshot()).total < 0.4  # boundary samples miss it


def test_corrupted_oracle_counts_as_failure(spark, tmp_path):
    from perfbench.batch import check_pass
    from weather_stream_processor_spark.registry import all_queries

    t = inputs.base_tables(np.random.default_rng(5), 0.1)
    inputs.write_tables(np.random.default_rng(6), t, str(tmp_path))
    names = ["q1_pricing_summary", "hourly_value_by_type"]
    specs = all_queries()
    run = SimpleNamespace(spark=spark, specs=specs, detail={})
    assert check_pass(run, names, str(tmp_path))[0] == 0

    q = specs["q1_pricing_summary"]
    corrupted = dict(specs)
    corrupted[q.name] = q.__class__(q.name, q.builder, f"SELECT * FROM ({q.oracle}) OFFSET 1")
    run = SimpleNamespace(spark=spark, specs=corrupted, detail={})
    failed, _ = check_pass(run, names, str(tmp_path))
    assert failed == 1  # failed / attempted = 1/2 > 0


# a near-duplicate pair (Jaccard 8/9) whose MinHash signatures agree in 24
# of 32 lanes but in no band of 4: LSH cannot make it a candidate
_LSH_MISSED = (
    "table window sort merge column spark filter table vector value",
    "table window sort merge column spark filter table vector value dup",
)


def test_lsh_miss_is_a_finding_only_when_no_band_agrees(spark, tmp_path):
    long_text = " ".join(f"w{i}" for i in range(40))
    texts = [*_LSH_MISSED, long_text, long_text + " dup"]
    pd.DataFrame({"doc_id": range(4), "text": texts}).to_parquet(
        tmp_path / "documents.parquet"
    )
    want = pd.DataFrame({"doc_a": [0, 2], "doc_b": [1, 3], "jaccard": [0.888889, 0.974359]})
    got = want.iloc[:0]

    kept, finding = checks.lsh_unreachable(spark, str(tmp_path), got, want)
    assert kept[["doc_a", "doc_b"]].values.tolist() == [[2, 3]]
    assert "(0, 1)" in finding
    # the pair a band does find is still expected, so missing it fails
    assert "rows" in checks.compare(got, kept)[0]
    # nothing missing: the expectation is the oracle's, untouched
    assert checks.lsh_unreachable(spark, str(tmp_path), want, want) == (want, None)
