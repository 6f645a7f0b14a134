"""``plans.caching.lazy_cuts``: the lazy plan-inspection mode of the one
lineage-cut helper.

Plan tests build registered operators inside ``lazy_cuts()`` to see the
tree their eager cuts would hide. That is only sound if the lazy builder
computes the same rows as the eager one and really leaves no cut behind,
and if the mode stays confined to the context that opened it: it must
reset when the body raises, and it must not reach other threads (the
shared registry walk builds eagerly on 12 pool threads while tests run).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE
from weather_stream_processor_spark.plans.caching import (
    lazy_cuts,
    persisted_result,
    truncate_lineage,
)

# operators whose registered form cuts lineage and whose plan tests read
# the lazy builder (tests/test_plans.py, tests/test_r12_guard.py)
_FORMER_TWINS = (
    "rfm_segments",
    "pagerank_brand_graph",
    "textrank_keyphrases",
    "prefix_filter_jaccard_join",
    "degree_assortativity",
    "adamic_adar_link_prediction",
    "t_closeness_audit",
    "kcore_decomposition",
    "release_audit_report",
)
# builds its seven gates on its own thread pool; pool threads do not
# inherit the context, so the gate builders still cut eagerly
_POOLED = {"release_audit_report"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", _FORMER_TWINS)
def test_lazy_builder_equals_eager_and_has_no_cut(spark, registry_walk, name):
    from weather_stream_processor_spark.registry import all_queries

    eager = registry_walk[name]
    if eager.error is not None:
        raise eager.error
    with lazy_cuts():
        df = all_queries()[name].builder(spark, SF_SMOKE)
    plan = _plan(df)
    assert "InMemoryTableScan" not in plan
    if name not in _POOLED:
        assert "ExistingRDD" not in plan
    pd.testing.assert_frame_equal(_sorted(df.toPandas()), _sorted(eager.pdf))


def test_lazy_cuts_are_identities(spark):
    df = spark.range(4)
    with lazy_cuts():
        assert truncate_lineage(df) is df
        assert persisted_result(df, lambda x: x) is df


def test_lazy_cuts_reset_when_body_raises(spark):
    df = spark.range(4)
    with pytest.raises(RuntimeError):
        with lazy_cuts():
            raise RuntimeError("builder failed")
    assert "ExistingRDD" in _plan(truncate_lineage(df))


def test_lazy_cuts_do_not_reach_other_threads(spark):
    df = spark.range(4)
    with lazy_cuts():
        with ThreadPoolExecutor(max_workers=1) as pool:
            cut = pool.submit(truncate_lineage, df).result()
        assert truncate_lineage(df) is df
    assert "ExistingRDD" in _plan(cut)
