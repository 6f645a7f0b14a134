"""Output checks, run outside every timed region.

Batch: a query's Spark output must equal its DuckDB oracle on the same
parquet — same row count, same column names, and the same multiset of rows
with floats compared exactly (the builders round their own aggregates).
A MinHash-LSH query may miss an oracle pair only if that pair's signatures,
recomputed here, share no band.
Stream: the last row the sink emitted for each (hour, lat, lon) must equal
the generator's own hourly sum, and the parser must reject exactly the
messages the generator spoiled.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.inputs import WireStream

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")  # spills stay in the run
    return con


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = _connect()
    # Spark is idle while the oracle runs, so the oracle may use every core
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for name in TABLES.split():
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(object)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64") if s.isna().any() else s.astype("int64")
    try:
        df = df.sort_values(list(df.columns), kind="mergesort")
    except TypeError:  # mixed objects: order by their text
        df = df.sort_values(list(df.columns), kind="mergesort", key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def _decimals(v: float) -> int:
    text = repr(float(v))
    return 0 if "e" in text or "." not in text else len(text.split(".")[1])


def _last_digit_flip(x: np.ndarray, y: np.ndarray) -> bool:
    """Every pair differs by at most one unit in its last printed decimal:
    the mark of a rounded floating-point sum whose value sits on a rounding
    boundary, so that the summation order (and hence the input row order)
    decides the last digit."""
    return all(
        abs(u - v) <= 1.5 * 10.0 ** -max(_decimals(u), _decimals(v)) for u, v in zip(x, y)
    )


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[str | None, str | None]:
    """(failure, finding) for ``got`` against ``want`` as multisets of rows.

    Floats compare exactly. Float columns whose only differences are
    last-digit flips (``_last_digit_flip``) are not a failure but a finding:
    the operator's output depends on input row order.
    """
    if len(got) != len(want):
        return f"rows: got {len(got)}, want {len(want)}", None
    if sorted(got.columns) != sorted(want.columns):
        return f"columns: got {sorted(got.columns)}, want {sorted(want.columns)}", None
    a, b = _canonical(got), _canonical(want)
    finding = None
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            try:
                x, y = x.astype("float64"), y.astype("float64")
            except (TypeError, ValueError):
                return f"column {c!r}: numeric vs non-numeric", None
            ok = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            ok = np.array(
                [(u == v) or (pd.isna(u) and pd.isna(v)) for u, v in zip(x, y)], dtype=bool
            )
        bad = np.flatnonzero(~ok)
        if not len(bad):
            continue
        i = bad[0]
        why = f"column {c!r}: {len(bad)} rows differ, first got={x[i]!r} want={y[i]!r}"
        if x.dtype.kind == "f" and _last_digit_flip(x[bad], y[bad]):
            finding = finding or f"row-order dependent rounding, {why}"
            continue
        return why, None
    return None, finding


# MinHash-LSH as minhash_lsh_near_dup documents its construction: lane i of
# a document's signature is min over its distinct word 3-shingles s of
# (A_i * h32(s) + B_i) mod (2^31 - 1), with h32 the low 32 bits of Spark's
# xxhash64(s); two documents become a candidate pair when the 4 lanes of any
# of the 8 bands agree. Restated here rather than imported, so the check
# does not take the operator's word for its own construction.
LSH_QUERIES = ("minhash_lsh_near_dup",)
_LSH_P = (1 << 31) - 1
_LSH_A = [(2654435761 * (2 * i + 3)) % _LSH_P or 1 for i in range(32)]
_LSH_B = [(0x9E3779B97F4A7C15 * (i + 1)) % _LSH_P for i in range(32)]
_LSH_BANDS = 8


def _signatures(spark, texts: dict[int, str]) -> dict[int, list[int]]:
    from pyspark.sql import functions as F

    shingles = {}
    for doc, text in texts.items():
        t = text.split(" ")
        shingles[doc] = sorted({" ".join(t[i : i + 3]) for i in range(len(t) - 2)})
    distinct = sorted({s for sh in shingles.values() for s in sh})
    frame = spark.createDataFrame(pd.DataFrame({"s": distinct}))
    h32 = {
        s: h & 0xFFFFFFFF
        for s, h in frame.select("s", F.xxhash64("s")).toPandas().itertuples(index=False)
    }
    return {
        doc: [min((h32[s] * a + b) % _LSH_P for s in sh) for a, b in zip(_LSH_A, _LSH_B)]
        for doc, sh in shingles.items()
        if sh
    }


def lsh_unreachable(
    spark, sf_dir: str, got: pd.DataFrame, want: pd.DataFrame
) -> tuple[pd.DataFrame, str | None]:
    """(expectation, finding) for a MinHash-LSH near-dup query.

    ``want`` holds the exhaustive oracle's (doc_a, doc_b, jaccard) pairs.
    A pair that ``got`` lacks and whose recomputed signatures share no band
    cannot be a candidate: LSH recall is below 100% by design. Such pairs
    are dropped from the expectation and named in the finding; every other
    pair, and every value, is still compared exactly by ``compare``.
    """
    if not {"doc_a", "doc_b"} <= set(got.columns):
        return want, None  # compare() reports the columns
    have = set(zip(got["doc_a"].astype(int), got["doc_b"].astype(int)))
    missing = [
        (int(a), int(b)) for a, b in zip(want["doc_a"], want["doc_b"]) if (a, b) not in have
    ]
    if not missing:
        return want, None
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    wanted = {d for pair in missing for d in pair}
    texts = {
        int(d): t
        for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
        if d in wanted
    }
    sig = _signatures(spark, texts)
    r = len(_LSH_A) // _LSH_BANDS
    unreachable = set()
    for a, b in missing:
        sa, sb = sig.get(a), sig.get(b)
        if sa is None or sb is None:
            continue
        if not any(sa[k * r : (k + 1) * r] == sb[k * r : (k + 1) * r] for k in range(_LSH_BANDS)):
            unreachable.add((a, b))
    if not unreachable:
        return want, None
    keep = [(int(a), int(b)) not in unreachable for a, b in zip(want["doc_a"], want["doc_b"])]
    finding = (
        f"LSH recall miss, {len(unreachable)} of {len(want)} oracle pairs share no "
        f"signature band: {sorted(unreachable)}"
    )
    return want[keep].reset_index(drop=True), finding


def check_stream(out_dir: str, expect: WireStream, rejected: int) -> list[str]:
    """Compare the parquet sink's final rows with the generator's sums."""
    errors = []
    if rejected != expect.rejected:
        errors.append(f"parse_rejected: got {rejected}, want {expect.rejected}")
    con = _connect()
    rows = con.execute(
        f"""
        SELECT epoch(hour)::BIGINT AS h, lat, lon,
               arg_max(hourly_precipitation, batch_id) AS v
        FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)
        GROUP BY ALL
        """
    ).fetchall()
    got = {(int(h), float(la), float(lo)): int(round(v * 100)) for h, la, lo, v in rows}
    if got.keys() != expect.hourly_cents.keys():
        errors.append(
            f"keys: {len(got.keys() - expect.hourly_cents.keys())} unexpected, "
            f"{len(expect.hourly_cents.keys() - got.keys())} missing"
        )
    wrong = [k for k in got.keys() & expect.hourly_cents.keys() if got[k] != expect.hourly_cents[k]]
    if wrong:
        k = wrong[0]
        errors.append(
            f"{len(wrong)} hourly sums differ, first {k}: got {got[k]}, want {expect.hourly_cents[k]} cents"
        )
    return errors
