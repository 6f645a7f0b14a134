"""Pin the bench stdout framing contract (r11 verdict task 7).

The driver records only a ~2000-char tail of stdout; bench.py's compact
JSON line must stay inside it WITHOUT shedding per-query walls as the
headline map grows. These tests exercise compact_bench_line directly at
the current map size and at map size +5 with realistic (long) names, and
pin the graceful-degradation order: metadata keys shed before any wall.
"""

from __future__ import annotations

import json

from bench import _MAX_LINE, HEADLINE, compact_bench_line


def _detail(names: list[str], wall: float = 12.34) -> dict:
    return {
        "metric": "headline_queries_total_wall",
        "value": 123.456,
        "unit": "sec",
        "sf": 0.1,
        "calib_sec": 0.489,
        "calib_py_sec": 2.841,
        "agg": "min_of_2_passes",
        "queries": {n: wall for n in names},
        "sf_secondary": 0.01,
        "value_secondary": 111.111,
        "sf_third": 1.0,
        "value_third": 222.222,
    }


def test_current_headline_map_keeps_every_wall() -> None:
    # worst-case 5-char walls for every current headliner
    line = compact_bench_line(_detail(list(HEADLINE)))
    assert len(line) <= _MAX_LINE
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(HEADLINE)
    assert "q_dropped" not in parsed
    # contract keys always present
    for key in ("metric", "value", "unit", "sf"):
        assert key in parsed


def test_headline_map_plus_five_keeps_every_wall() -> None:
    # +5 entries at the CURRENT AVERAGE name length (the realistic growth
    # shape — r11's two additions averaged 25 chars) and realistic walls
    # (sub-10s, i.e. <= 4-char 2dp rendering, true of every wall ever
    # recorded at sf0.1). The all-worst-case variant (35-char names,
    # 5-char walls for all 63) exceeds the tail window's physical
    # capacity and is exactly what the graceful q_dropped path is for.
    # Capacity math: 63 names (current avg 21 chars) + JSON punctuation +
    # contract keys ≈ 1830 chars at 1dp walls — inside the 1900 window
    # only after the metadata shed AND the 1dp rung, which is exactly the
    # degradation ladder this test pins (walls may coarsen, never vanish).
    avg_len = round(sum(len(n) for n in HEADLINE) / len(HEADLINE))
    extra = [f"r12_added_query_{i}".ljust(avg_len, "x") for i in range(5)]
    names = list(HEADLINE) + extra
    line = compact_bench_line(_detail(names, wall=1.23))
    assert len(line) <= _MAX_LINE
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(names), "a per-query wall was shed"
    assert "q_dropped" not in parsed


def test_degradation_sheds_metadata_before_walls_and_is_bounded() -> None:
    # force overflow: tiny budget still yields valid JSON under the budget
    names = list(HEADLINE)
    line = compact_bench_line(_detail(names), max_line=600)
    assert len(line) <= 600
    parsed = json.loads(line)
    # metadata shed first; whatever queries remain are honest about drops
    if set(parsed.get("queries", {})) != set(names):
        assert parsed.get("q_dropped", 0) > 0


def test_last_ditch_drops_the_map_with_its_annotations() -> None:
    # budgets too small for even an empty queries map: the map goes, and
    # q_dropped / q_1dp must go with it rather than describe walls the
    # line no longer carries
    names = list(HEADLINE)
    for budget in range(60, 700):
        parsed = json.loads(compact_bench_line(_detail(names), max_line=budget))
        if "queries" not in parsed:
            assert "q_dropped" not in parsed, budget
            assert "q_1dp" not in parsed, budget
