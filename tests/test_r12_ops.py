"""Round-12 optimization pins.

Exact-duplicate contraction in _ngram_jaccard_core (guide §8): pairs from
the contracted plan must equal the exhaustive self-join on corpora WITH
duplicate classes — including classes of size 2 and 3, shingle-less short
docs (never emitted by either path), and identical short docs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from weather_stream_processor_spark.operators.dedup import _ngram_jaccard_core
from weather_stream_processor_spark.sources import load_table


def _dup_heavy_docs(spark):
    """sf0.001 documents + a full clone (doc_id+10000) + a partial clone
    of every 3rd doc (doc_id+20000) + edge-case short docs: clone classes
    of size 3 and 2, plus real cross-class near-dup pairs, plus docs with
    zero shingles (< 3 tokens)."""
    base = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    clones1 = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    clones2 = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    shorts = spark.createDataFrame(
        [
            (90001, "one two"),  # < 3 tokens: zero shingles
            (90002, "one two"),  # identical zero-shingle doc: still no pair
            (90003, "alpha beta gamma delta"),
            (90004, "alpha beta gamma delta"),  # identical: jaccard 1.0 pair
        ],
        "doc_id long, text string",
    )
    return base.unionByName(clones1).unionByName(clones2).unionByName(shorts)


def test_contraction_equals_exhaustive_pairs(spark):
    docs = _dup_heavy_docs(spark)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _ngram_jaccard_core(docs, contract=True).collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _ngram_jaccard_core(docs, contract=False).collect()
    }
    assert got == want
    # the corpus genuinely exercises the machinery: intra-class pairs
    # exist (clones), incl. the identical short docs ...
    assert got[(90003, 90004)] == 1.0
    assert got[(1, 10001)] == 1.0
    # ... and zero-shingle docs never pair, even when identical
    assert not any(90001 in p or 90002 in p for p in got)


def test_contraction_no_duplicate_pairs(spark):
    # each unordered doc pair must appear exactly once after expansion
    docs = _dup_heavy_docs(spark)
    pairs = _ngram_jaccard_core(docs, contract=True)
    n = pairs.count()
    n_distinct = pairs.select("doc_a", "doc_b").distinct().count()
    assert n == n_distinct
    assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_contraction_gate_measures_dup_rate(spark):
    """contract=None gates on the measured duplicate-text rate: the
    ~0.2%-dup fixture stays on the exhaustive join (no expansion Union
    at the plan top), the clone-heavy corpus contracts (Union of the
    cross-class and intra-class expansion branches)."""
    from weather_stream_processor_spark.sources import load_table

    base = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    p_fixture = (
        _ngram_jaccard_core(base)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Union" not in p_fixture
    p_dup = (
        _ngram_jaccard_core(_dup_heavy_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" in p_dup


def test_contraction_expansion_joins_are_sized_by_the_planner(spark):
    """The expansion joins read the doc-scale (doc_id, rep_id) class map
    without a broadcast hint, so a map above the broadcast threshold
    shuffles (here forced with a -1 threshold) and still gives the exact
    pairs, instead of a forced broadcast failing on a large corpus."""
    docs = _dup_heavy_docs(spark)
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _ngram_jaccard_core(docs, contract=False).collect()
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        pairs = _ngram_jaccard_core(docs, contract=True)
        qe = pairs._jdf.queryExecution()
        assert "strategy=broadcast" not in qe.optimizedPlan().toString()
        plan = qe.executedPlan().toString()
        assert "Broadcast" not in plan
        assert "SortMergeJoin" in plan
        got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    finally:
        spark.conf.set(key, old)
    assert got == want
