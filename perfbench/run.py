"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ops_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes (seeded inputs,
Spark scratch space, checkpoints, the trace file) goes under
``.perfbench_work/`` in that root; the run's own directory is removed at
the end, the trace file is kept. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json when ``--trace 0`` and its per-layer metrics
when ``--trace 1``. The line before it is ``detail: {...}`` with sample
counts, per-pass figures and the contention signal.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.probes import (  # noqa: E402
    CpuSampler,
    StatusStore,
    Tracer,
    cpu_between,
    cpu_snapshot,
    host_cpu_ticks,
    tree_peak_rss_mb,
    tree_pids,
)

WORKLOADS = ("ops_sf0.01", "wire_stream")
# fixed work per run, from --seconds: timed passes for ops_sf0.01 and files
# (triggers) for wire_stream. Never from a clock reading, so every run of a
# workload does the same work and its counts repeat.
PASSES_PER_SECOND = 0.2
FILES_PER_SECOND = 1.6


def _units() -> dict[str, tuple[str, str]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        m["name"]: (m["unit"], kind)
        for kind in ("end_to_end", "per_layer")
        for m in spec[kind]
    }


class Run:
    """State of one benchmark run, passed to the workload functions."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = str(ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": workload, "seed": seed, "nproc": _nproc()}
        self.attempted = 0
        self.failed = 0
        self.own_s = 0.0  # the benchmark's own input generation and checks
        self.spark = None
        self.specs = None
        self.store = None
        self.sampler = None
        self._timed_t0: float | None = None
        self._timed_cpu0 = None
        self._load0 = None
        self._steal0 = None

    def isolate(self) -> None:
        """Point every scratch location of Python, Spark and the JVM into
        this run's directory, before the JVM starts."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(self.work, "warehouse")
        os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        # spark-submit's launcher JVM: no hsperfdata file in the system /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def start_session(self) -> None:
        with self.tracer.span("session"):
            t0 = time.perf_counter()
            from weather_stream_processor_spark.session import get_spark

            self.spark = get_spark(
                f"perfbench-{self.workload}",
                extra_conf={
                    # a fixed, pre-touched heap: resident memory then does
                    # not depend on when the collector chose to grow the heap
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                        f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch "
                        # no hsperfdata file in the system /tmp
                        "-XX:-UsePerfData"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.layer["session.start_s"] = time.perf_counter() - t0
        with self.tracer.span("registry"):
            t0 = time.perf_counter()
            from weather_stream_processor_spark.registry import all_queries

            self.specs = all_queries()
            self.layer["registry.import_s"] = time.perf_counter() - t0
        if self.trace:
            self.store = StatusStore(self.spark)
            self.sampler = CpuSampler()

    def cpu(self):
        """A process-tree CPU snapshot; between samples too when traced."""
        return self.sampler.snapshot() if self.sampler else cpu_snapshot()

    def load_tables(self, sf_dir: str) -> float:
        """Wall time of load_table plus a count, over every source table."""
        from weather_stream_processor_spark.sources import TABLES, load_table

        t0 = time.perf_counter()
        with self.tracer.span("sources.load"):
            for name in TABLES:
                load_table(self.spark, sf_dir, name).count()
        return time.perf_counter() - t0

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - T_START - self.own_s
        self._load0 = os.getloadavg()
        self._steal0 = host_cpu_ticks()
        self._timed_cpu0 = self.cpu()
        self._timed_t0 = time.perf_counter()

    def pass_done(self) -> None:
        self.e2e["peak_rss_mb"] = tree_peak_rss_mb()

    def contention(self) -> None:
        """How much the timed region had the machine to itself: load before
        and after, the tree's CPU per core-second of wall, and the share of
        the machine's CPU time the host gave to other guests (steal)."""
        wall = time.perf_counter() - self._timed_t0
        cpu = cpu_between(self._timed_cpu0, self.cpu()).total
        steal, total = (b - a for a, b in zip(self._steal0, host_cpu_ticks()))
        self.detail["loadavg_before"] = [round(x, 2) for x in self._load0]
        self.detail["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
        self.detail["timed_cpu_per_core_wall"] = round(cpu / (wall * _nproc()), 4)
        self.detail["timed_steal_frac"] = round(steal / max(total, 1), 4)

    def stop(self) -> None:
        """Stop Spark and every process this run started; wait for each."""
        if self.sampler is not None:
            self.sampler.close()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        # the pyspark daemon exits once the JVM has gone; give it a moment
        deadline = time.monotonic() + 20
        while tree_pids() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in tree_pids():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while tree_pids() and time.monotonic() < deadline + 10:
            time.sleep(0.1)

    def result(self) -> dict:
        units = _units()
        kind = "per_layer" if self.trace else "end_to_end"
        names = [n for n, (_, k) in units.items() if k == kind]
        values = self.layer if self.trace else self.e2e
        missing = [n for n in names if n not in values and not self.trace]
        if missing:
            raise RuntimeError(f"end-to-end metrics not measured: {missing}")
        metrics = {
            n: {"value": float(values.get(n, 0.0)), "unit": units[n][0]} for n in names
        }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any work, where the engine is not importable
    import weather_stream_processor_spark  # noqa: F401

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, bool(args.trace))
    run.isolate()
    try:
        with run.tracer.span("run", workload=args.workload, seed=args.seed):
            if args.workload == "wire_stream":
                from perfbench.stream import run_stream

                run_stream(run, args.seed, max(4, round(FILES_PER_SECOND * args.seconds)))
            else:
                from perfbench.batch import run_batch

                run_batch(run, args.seed, max(1, round(PASSES_PER_SECOND * args.seconds)))
            run.contention()
    finally:
        t0 = time.perf_counter()
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        run.detail["stop_s"] = round(time.perf_counter() - t0, 3)
    run.detail["own_s"] = round(run.own_s, 3)
    run.detail["session_start_s"] = round(run.layer["session.start_s"], 3)
    run.detail["total_s"] = round(time.perf_counter() - T_START, 3)
    if run.trace:
        trace_path = ROOT / ".perfbench_work" / f"trace-{args.workload}-{args.seed}.json"
        trace_path.write_text(json.dumps({"detail": run.detail, "spans": run.tracer.to_json()}))
        run.detail["trace_file"] = str(trace_path.relative_to(ROOT))
    print("detail: " + json.dumps(run.detail), flush=True)
    print(json.dumps(run.result()), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
