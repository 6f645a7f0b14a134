"""Seeded inputs for every workload; the program sees only these files.

* ``base_tables`` — the ten-table star schema the engine's queries read
  (TPC-H-ish facts and dimensions plus ``events``, ``documents`` and
  ``embeddings``), with the column types and value distributions of the
  engine's sf0.01 fixture: 60,000 lineitem rows at ``scale=1``.
* ``write_tables`` — one parquet file per table, rows in a seeded order.
* ``wire_files`` — JSON wire messages, one file per trigger, together with
  the exact hourly sums and reject count the stream must produce.

Every function is a pure function of its ``numpy.random.Generator``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at scale 1 (the sf0.01 fixture); nation and region are fixed
_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
_USERS = 150

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_DAY_US = 86_400 * 1_000_000


def _rows(name: str, scale: float) -> int:
    return max(1, int(round(_ROWS[name] * scale)))


def _day_ts(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng: np.random.Generator, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten source tables at ``scale`` × the sf0.01 fixture's row counts."""
    n_cust, n_supp, n_part = (_rows(t, scale) for t in ("customer", "supplier", "part"))
    n_ord, n_li, n_ev = (_rows(t, scale) for t in ("orders", "lineitem", "events"))
    n_doc, n_emb = _rows("documents", scale), _rows("embeddings", scale)
    n_users = max(1, int(round(_USERS * scale)))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _day_ts(rng, "1995-01-02", 2498, n_li),
        }
    )
    # a 30-day stream with exponential gaps, in event_id order
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * _DAY_US / (n_ev + 1), n_ev)
    ts = t0 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # ~5% of documents copy an earlier one and append " dup" (near-dups)
    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(rng: np.random.Generator, tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write ``<out_dir>/<name>.parquet`` per table, rows in a seeded order."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


@dataclass
class WireStream:
    """What a wire replay must produce: the exact hourly sum in cents per
    (hour epoch-seconds, lat, lon), over every well-formed message, and the
    number of messages the parser must reject."""

    rows: int
    rejected: int
    hourly_cents: dict[tuple[int, float, float], int]


def wire_files(
    rng: np.random.Generator,
    out_dir: str,
    n_files: int,
    rows_per_file: int,
    n_keys: int,
    file_span_s: int = 1800,
) -> WireStream:
    """Write ``n_files`` JSON-lines files of reference wire messages.

    File ``f`` carries the events of [f, f+1) × ``file_span_s`` after a
    seeded start hour, except that ~5% of events arrive one or two files
    late. A late event is at most 3 × ``file_span_s`` (90 min) behind the
    newest event already seen, inside the pipeline's 2 h watermark, so none
    may be dropped. ~0.5% of messages are truncated (malformed JSON) and
    ~0.5% carry a null field; both must be rejected, not aggregated.
    """
    os.makedirs(out_dir, exist_ok=True)
    lat = np.round(rng.uniform(36.0, 42.0, n_keys), 2)
    lon = np.round(rng.uniform(-9.5, -6.0, n_keys), 2)
    start = 1_704_067_200 + 3600 * int(rng.integers(0, 24 * 300))  # an hour in 2024
    n = n_files * rows_per_file
    key = rng.integers(0, n_keys, n)
    ts = start + np.sort(rng.integers(0, n_files * file_span_s, n))
    cents = np.round(rng.exponential(150.0, n)).astype(np.int64)
    due = ts - start
    arrival = np.minimum(
        due // file_span_s + np.where(rng.random(n) < 0.05, rng.integers(1, 3, n), 0),
        n_files - 1,
    )
    bad = rng.random(n)
    malformed, null_field = bad < 0.005, (bad >= 0.005) & (bad < 0.01)
    which_null = rng.integers(0, 3, n)

    hourly: dict[tuple[int, float, float], int] = {}
    lines: list[list[str]] = [[] for _ in range(n_files)]
    for i in range(n):
        k = int(key[i])
        msg = {
            "timestamp": str(int(ts[i])),
            "total_precipitation": int(cents[i]) / 100.0,
            "location": {"lat": float(lat[k]), "lon": float(lon[k])},
        }
        if null_field[i]:
            if which_null[i] == 0:
                msg["total_precipitation"] = None
            elif which_null[i] == 1:
                msg["location"] = None
            else:
                msg["location"]["lat"] = None
        line = json.dumps(msg)
        if malformed[i]:
            line = line[: int(rng.integers(1, len(line) - 1))]
        elif not null_field[i]:
            h = (int(ts[i]) // 3600 * 3600, float(lat[k]), float(lon[k]))
            hourly[h] = hourly.get(h, 0) + int(cents[i])
        lines[int(arrival[i])].append(line)
    for f, batch in enumerate(lines):
        order = rng.permutation(len(batch))
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(batch[j] for j in order) + "\n")
    return WireStream(rows=n, rejected=int(malformed.sum() + null_field.sum()), hourly_cents=hourly)
