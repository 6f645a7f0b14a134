"""Mechanical guard over driver-side materializations (the third screen
in the round-8 guard family, after unpartitioned windows and nested-loop
joins).

Every ``.collect()`` / ``.first()`` / ``.toPandas()`` in non-test engine
source pulls rows to the driver: fine when the relation is bounded by
construction (1-row totals, <=64 coarse-bucket offsets, PQ codebooks,
brand/bucket grids), a scale-killer when it grows with the corpus. The
existing sites all carry in-code boundedness comments, audited by hand —
this guard pins the SET of sites so a new operator cannot quietly add an
unbounded one: any new/moved/removed site fails until the allowlist (and
its in-code boundedness comment) is updated.

Sites are keyed (file, enclosing function, method) with multiplicity —
stable under line shifts and unrelated edits, specific enough that a new
collect in a new function always trips.

The same walker pins the lineage-cut surface: ``checkpoint`` /
``localCheckpoint`` / ``persist`` / ``cache`` may appear only inside
``plans/caching.py``, the one module that knows how a cut is made (and
that ``lazy_cuts()`` can switch off). Operators cut through its
``truncate_lineage`` / ``persisted_result``; a second copy of the helper
anywhere else fails here.
"""

from __future__ import annotations

import ast
import pathlib

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_SRC = _ROOT / "weather_stream_processor_spark"
_METHODS = {"collect", "first", "toPandas"}
_CUT_METHODS = {"checkpoint", "localCheckpoint", "persist", "cache"}

# (file, enclosing function, method) -> site count; the boundedness
# argument lives as a comment AT the call site in each file.
ALLOWLIST: dict[tuple[str, str, str], int] = {
    ('operators/analytics.py', '_bfs_tree', 'collect'): 1,
    ('operators/analytics.py', '_hits_tree.l1_normalize', 'collect'): 1,
    ('operators/analytics.py', 'lang_source_chi_square', 'first'): 1,
    ('operators/analytics.py', 'markov_absorption_conversion', 'collect'): 1,
    ('operators/analytics.py', 'markov_removal_attribution', 'collect'): 2,
    # _ngram_jaccard_core's contraction gate: ONE 2-long row (count +
    # approx distinct text hashes) deciding contracted vs exhaustive plan
    # — both plans exact, so the collect picks a plan, never an answer
    ('operators/dedup.py', '_ngram_jaccard_core._dup_rate_row', 'collect'): 1,
    ('operators/dedup.py', '_cc_label_propagation', 'collect'): 1,
    ('operators/dedup.py', '_cc_two_phase', 'collect'): 1,
    ('operators/dedup.py', 'bloom_filter_decontam', 'collect'): 1,
    ('operators/evals.py', 'v_optimal_histogram', 'collect'): 1,
    ('operators/labeling.py', 'bradley_terry_strengths', 'collect'): 1,
    ('operators/similarity.py', 'ann_pq_topk', 'collect'): 1,
    ('operators/similarity.py', 'embedding_near_dup_broadcast', 'collect'): 1,
    ('operators/similarity.py', 'embedding_procrustes_drift', 'collect'): 2,
    ('operators/similarity.py', 'ivf_plan', 'collect'): 1,
    ('operators/similarity.py', 'kcenter_coreset', 'collect'): 3,
    ('operators/similarity.py', 'lof_outlier_scores', 'first'): 2,
    ('operators/similarity.py', 'mmr_diversified_rerank', 'collect'): 1,
    ('operators/similarity.py', 'whitened_embeddings', 'collect'): 2,
    ('operators/streaming_ops.py', 'streaming_cusum_monitor', 'collect'): 1,
    ('operators/text.py', 'alias_method_sampling_table', 'collect'): 1,
    ('operators/text.py', 'bpe_merge_induction', 'collect'): 1,
    ('operators/timeseries.py', 'linear_interpolate_hourly', 'first'): 2,
    ('operators/timeseries.py', 'pacf_durbin_levinson', 'collect'): 1,
    ('operators/windows.py', 'exact_global_ntiles', 'collect'): 1,
    ('operators/windows.py', 'exact_global_ntiles', 'first'): 1,
    ('operators/windows.py', 'window_distribution_functions', 'first'): 1,
}


# (file, enclosing function, method) -> site count for the cut methods
CUT_ALLOWLIST: dict[tuple[str, str, str], int] = {
    ("plans/caching.py", "persisted_result", "persist"): 1,
    ("plans/caching.py", "truncate_lineage", "checkpoint"): 1,
    ("plans/caching.py", "truncate_lineage", "localCheckpoint"): 1,
}


def _scan(methods: set[str] = _METHODS) -> dict[tuple[str, str, str], int]:
    sites: dict[tuple[str, str, str], int] = {}
    for p in sorted(_SRC.rglob("*.py")):
        tree = ast.parse(p.read_text())
        rel = str(p.relative_to(_SRC))

        def walk(node: ast.AST, fn: str | None) -> None:
            name = fn
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = node.name if fn is None else f"{fn}.{node.name}"
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in methods
            ):
                key = (rel, name or "<module>", node.func.attr)
                sites[key] = sites.get(key, 0) + 1
            for c in ast.iter_child_nodes(node):
                walk(c, name)

        walk(tree, None)
    return sites


def test_every_driver_materialization_is_allowlisted():
    found = _scan()
    new = {k: v for k, v in found.items() if ALLOWLIST.get(k) != v}
    gone = {k: v for k, v in ALLOWLIST.items() if found.get(k) != v}
    assert found == ALLOWLIST, (
        "driver-side materialization surface changed.\n"
        f"NEW/CHANGED (add an in-code boundedness comment + allowlist): {new}\n"
        f"STALE allowlist entries (remove them): {gone}"
    )


def test_lineage_cuts_live_only_in_caching_module():
    found = _scan(_CUT_METHODS)
    assert found == CUT_ALLOWLIST, (
        "checkpoint/localCheckpoint/persist/cache outside the allowlist: "
        "cut through plans.caching.truncate_lineage / persisted_result.\n"
        f"found: {found}"
    )
