"""SparkSession factory.

Defaults are tuned for the test harness (local[N], one JVM) but every
setting is the one you would also want on a 1000-executor cluster against
~100 TB: AQE on (runtime shuffle coalescing + skew-join splitting for
batch queries), UTC session timezone (oracle comparability), Arrow for the
few Pandas-UDF operators, and shuffle partitions sized to the parallelism
at hand rather than the 200 default. The one local-only setting is the
streaming checkpoint file manager (see ``get_spark``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "weather-stream-processor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master=None`` always builds ``local[SPARK_GRAFT_CPUS]``; to run on a
    cluster, pass the cluster's master URL.

    ``shuffle_partitions`` is the width of every shuffle AQE does not
    re-size. For batch queries AQE coalesces it at runtime, so it acts as
    an upper bound there. Stateful streaming queries run with AQE off, and
    their first batch writes this width into the checkpoint as the
    state-store partition count: a query restarted from that checkpoint
    keeps the old width whatever the session now says.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture `events.ts` is TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read as long and convert in load_table (ns -> us
        # truncation, matching DuckDB's coercion of the same file)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixture timestamps are isAdjustedToUTC=false micros; surface them
        # as plain TimestampType (epoch-identical under the UTC session tz)
        # instead of TIMESTAMP_NTZ, which unix_micros/window() reject
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # plan strings must never truncate ("... N more fields"): the
        # mechanical guards (tests/test_window_partition_guard.py,
        # tools/window_audit.py) and the repo's plan-shape pins parse
        # executedPlan().toString() — a spec hidden past the default
        # 25-field cutoff would silently escape the screens
        .config("spark.sql.debug.maxToStringFields", "100000")
        # whole-stage codegen cache, per JVM (driver and every executor).
        # Spark's default of 100 classes thrashes on this engine's working
        # set: measured on 4 cores, one 14-query ops pass generates ~305
        # distinct classes, the 58-query headline pass ~1,095 and the full
        # registry ~6,870, so every warm pass recompiled everything in
        # Janino (~320 compilations per ops pass, ~1,420 per headline
        # pass). 8192 covers the full registry; metaspace costs ~7.6 KB
        # per cached class (~52 MB for the full registry). Static conf:
        # it only takes effect at JVM launch.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.ui.enabled", "false")
        # managed tables (bucketing demos/tests) land in tmp, never the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "wsp_spark_warehouse"),
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # reliable checkpoints (plans/caching.truncate_lineage on the
        # cluster path) must be reclaimed when their RDD is GC'd — the
        # default (false) leaks one O(result) directory per invocation
        # into the checkpoint store for the session lifetime
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if master.startswith("local"):
        # Streaming checkpoints on the local file system: Spark's default
        # FileContext manager renames through AbstractFileSystem.
        # renameInternal, which asks for getFileLinkStatus on source and
        # destination. Without libhadoop, RawLocalFileSystem answers each
        # of those by forking `readlink` (~6.6 ms a fork on 4 cores):
        # 1,512 forks in a 17-trigger wire_stream replay, 1,104 of them
        # for state-store deltas. The FileSystem manager renames with
        # fs.exists + fs.rename and forks none. On the local FS
        # renameInternal is itself check-then-rename, so it is no more
        # atomic; both managers leave the same file set (Hadoop .crc
        # files and Spark's own *.delta.crc checkpoint checksums), and a
        # restart from either reads only new input. Measured on 4 cores
        # (wire_stream): state commit 6.1 s -> 0.45 s of task time,
        # checkpoint phase 1.1 s -> 0.3 s, op_wall_ms median -24% over 20
        # interleaved pairs. A cluster keeps Spark's default: checkpoints
        # there live on HDFS or an object store, where no process is
        # forked per call. The chmod fork per file create stays; no Spark
        # conf avoids it.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
