"""Round-12 guard coverage for plan surfaces hidden behind eager cuts.

r11 advice: the release audit's bounded crosses moved behind the flags
lineage cut, so the registered plan — a checkpoint scan — no longer shows
them to the nested-loop-join guard. Building the registered report under
``lazy_cuts()`` restores visibility: every quadratic-class join in the
seven-gate union layer must be a broadcast-bounded build.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tools.window_audit import nested_loop_joins


def _build_sides(plan: str, op: str = "BroadcastNestedLoopJoin") -> list[str]:
    """For each ``op`` line, the first line of its build (right) child's
    subtree below the BroadcastExchange."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        col = line.find(op)
        if col < 0:
            continue
        right = next(
            j for j in range(i + 1, len(lines)) if lines[j][col : col + 3] == "+- "
        )
        assert "BroadcastExchange" in lines[right], lines[right]
        out.append(lines[right + 1][col + 6 :])
    return out


def test_release_audit_gate_union_surface(spark):
    from weather_stream_processor_spark.plans.caching import lazy_cuts
    from weather_stream_processor_spark.registry import all_queries

    with lazy_cuts():
        df = all_queries()["release_audit_report"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sigs = nested_loop_joins(plan)
    # no raw CartesianProduct anywhere in the report
    assert not any(s.startswith("CartesianProduct") for s in sigs), sigs
    # pin the exact bounded-build surface (the other gate joins execute
    # eagerly inside the gate builders, which run on the report's pool
    # threads outside the lazy context, and are audited under their own
    # registered names); a new site must be classified here. The three
    # sites are ONE gate-layer cross — the privacy gate's k-anonymity
    # frame against a keyless aggregate — repeated because the lazy plan
    # inlines the flags union into each of its three report consumers
    # (per-gate counts, any_gate, released_clean); the eager builder cuts
    # the flags once, so it runs once.
    assert sigs == ["BroadcastNestedLoopJoin BuildRight Cross"] * 3, sigs
    # bounded: every build side is a keyless aggregate (at most one row)
    builds = _build_sides(plan)
    assert len(builds) == 3, builds
    assert all(b.startswith("HashAggregate(keys=[]") for b in builds), builds
