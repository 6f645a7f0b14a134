"""Quick per-query timing harness for optimization A/B runs.

Usage: python tools/ab_time.py name [name ...]
Warms the session like bench.py, prints the JVM calib probe, then runs 3
passes; each pass times every named query once (builder + noop
materialization, the bench's exact timed region), so JIT warm-up, GC and
host drift fall on all queries alike. Prints min/all passes per query.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    from bench import materialize
    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("ab-time")
    specs = all_queries()

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    from weather_stream_processor_spark.sources import load_table

    load_table(spark, sf_dir, "region").count()

    t0 = time.perf_counter()
    spark.range(400_000_000).selectExpr("sum(id * 2 + 1)").collect()
    print(f"calib: {time.perf_counter() - t0:.3f}s", flush=True)

    walls: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(3):
        for name in names:
            t0 = time.perf_counter()
            materialize(specs[name].builder(spark, sf_dir))
            walls[name].append(round(time.perf_counter() - t0, 3))
    for name, w in walls.items():
        print(f"{min(w):8.3f}s  passes={w}  {name}", flush=True)


if __name__ == "__main__":
    main()
