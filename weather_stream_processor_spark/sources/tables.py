"""Batch parquet sources for the fixture star schema + stream tables.

At 100 TB these tables would be date-partitioned (``l_shipdate`` /
``o_orderdate`` / ``ts``) and the fact tables bucketed on their join keys
(see ``docs/SCALE.md``); the loaders keep a single call site so that swap
is one change. Scans stay declarative (``spark.read.parquet``) so Catalyst
performs column pruning and predicate pushdown into the parquet reader —
never pre-``collect`` or pre-cache here.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H dims
# grow with SF but region/nation are constant; customer/supplier/part grow —
# at 100 TB only region/nation stay broadcast-safe unconditionally).
ALWAYS_BROADCAST = ("region", "nation")


def ensure_session_defaults(spark: SparkSession) -> None:
    """Make a FOREIGN SparkSession able to run our queries correctly.

    The evaluation driver (and any library consumer) may hand us a session
    built without our factory: without ``nanosAsLong`` a TIMESTAMP(NANOS)
    `events` scan throws PARQUET_TYPE_ILLEGAL, and a non-UTC session
    timezone shifts date_trunc/hour results away from the (UTC) DuckDB
    oracle. Fixture timestamps are written as isAdjustedToUTC=false
    micros, which Spark 4 would surface as TIMESTAMP_NTZ by default —
    a type `unix_micros`/`window()` reject — so NTZ inference is pinned
    off and those columns arrive as plain TimestampType with identical
    epoch values (the session timezone is UTC). All three confs are
    runtime-settable, so the data-access choke points pin them defensively.

    Pinned ONCE per session (r11 advice): load_table is called from
    pooled gate/tier builders, and per-call conf.set both mutates shared
    session state from several threads and pays 3 py4j round trips per
    table load. The WeakSet guard makes this true session SETUP — the
    first load in a session pins the confs, later loads are a set lookup.
    """
    if spark in _DEFAULTED_SESSIONS:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _DEFAULTED_SESSIONS.add(spark)


_DEFAULTED_SESSIONS: weakref.WeakSet = weakref.WeakSet()


# confs that change what parquet schema inference returns for one file
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# session -> {(path, inference confs, file identity): inferred StructType}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _file_identity(path: str) -> tuple | None:
    """(inode, mtime_ns, size) of a file; for a directory, the same for
    each data file under it (Spark's hidden ``_``/``.`` names skipped).
    None when ``os.stat`` cannot see the path (``s3a://`` and friends)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        parts = []
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not _hidden(d))
            for f in sorted(f for f in files if not _hidden(f)):
                fst = os.stat(os.path.join(root, f))
                parts.append((root, f, fst.st_ino, fst.st_mtime_ns, fst.st_size))
        return tuple(parts)
    except OSError:  # not a local path, or a part file vanished mid-walk
        return None


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_scan(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per session.

    Inference is one Spark job (~55 ms) that reads a file footer, and
    builders load the same few files many times per session. The schema
    Spark inferred is memoized per session under
    the inference confs and the file identity, and later reads pass it
    with ``spark.read.schema``. A rewritten file or a flipped conf is a
    new key; a path ``os.stat`` cannot see infers on every call.
    """
    identity = _file_identity(path)
    if identity is None:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS), identity)
    memo = _SCHEMAS.setdefault(spark, {})
    schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        memo[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_defaults(spark)
    df = parquet_scan(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # `ts` is TIMESTAMP(NANOS) in the fixture parquet; with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as epoch-nanos
        # LongType. Integer-divide to micros (DuckDB coerces the same way)
        # and restore TimestampType inside the plan — pure codegen, no UDF.
        from pyspark.sql import functions as F, types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition to the session's parallelism before CPU-heavy
    per-row work (shingling, hashing, Pandas UDF batches).

    A small single-file parquet scan is ONE task regardless of cores; an
    expensive projection chained onto it would run serially (observed: 6 s
    single-core shingle explode vs <1 s spread). On a real multi-split
    100 TB table the scan already parallelizes and this one extra exchange
    of the input is noise next to the per-row work it balances — keyed by
    the downstream grouping key so the shuffle is reused where possible.
    """
    sess = df.sparkSession
    n = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, key)
