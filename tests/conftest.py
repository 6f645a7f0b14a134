from __future__ import annotations

import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# --- driver-budget tier (r11 verdict task 1) -------------------------------
# The full suite (~1,600 tests) outgrew the driver's verify window at r11
# (tests_ok:false on a 100%-passing run cut off mid-progress). Default runs
# therefore DESELECT tests marked `slow` — the randomized property suites
# and the heaviest streaming-engine replays, whose semantics the default
# tier still covers end-to-end through the full-registry oracle-parity
# sweep (every streaming query replays against DuckDB there). Set
# WSP_FULL_TESTS=1 to run everything (builder sessions do; see
# OPTIMIZATION_r12.md).


# Central slow roster (measured ≥5 s each in the r12 full-suite durations
# run, /tmp-recorded, total ~480 s): randomized property/reference suites,
# streaming-engine replay semantics (each streaming query ALSO replays
# end-to-end in the default tier's oracle-parity sweep), and composite-
# report consistency cross-checks (constituents oracle-checked
# individually in the default tier). Deliberately NOT here despite cost:
# plan pins (test_whitening_transform_is_arrow_map) and the reliable-
# checkpoint cluster-path test (r11 verdict: keep that coverage honest).
_SLOW_TESTS = {
    ("test_round8_ops.py", "test_streaming_anti_and_semi_partition_the_closed_views"),
    ("test_round8_ops.py", "test_hits_authority_is_normalized_distribution"),
    ("test_round8_ops.py", "test_fold_leakage_partitions_all_near_dup_pairs"),
    ("test_round7_ops.py", "test_streaming_semi_join_unique_and_subset_of_inner"),
    ("test_advanced_ops.py", "test_asof_join_tie_is_inclusive"),
    ("test_advanced_ops.py", "test_two_phase_cc_bounds_rounds_on_adversarial_path_graph"),
    ("test_labeling.py", "test_eval_scorecard_consistent_with_constituents"),
    ("test_labeling.py", "test_experiment_readout_consistent_with_constituents"),
    ("test_labeling.py", "test_drift_panel_consistent_with_constituents"),
    ("test_labeling.py", "test_clustering_metrics_match_sklearn_formulas"),
    ("test_labeling.py", "test_v_optimal_histogram_beats_equi_width_and_is_optimal"),
    ("test_labeling.py", "test_capture_recapture_consistency"),
    ("test_round9_ops.py", "test_release_audit_is_consistent_with_constituents"),
    ("test_round10_ops.py", "test_ann_recall_curve_bounds"),
    ("test_round10_ops.py", "test_frequent_directions_spectral_guarantee"),
    ("test_r8_scalepath.py", "test_fagin_global_ranks_equal_naive_windows"),
    ("test_r7_scalepath.py", "test_curriculum_two_phase_equals_naive_windows"),
    ("test_r9_ops2.py", "test_chrf_single_pass_equals_union_form"),
    ("test_r11_streaming.py", "test_streaming_cs_state_crosses_micro_batches"),
    ("test_streaming.py", "test_stream_stream_left_join_emits_unmatched"),
    ("test_streaming.py", "test_streaming_scd2_state_survives_micro_batch_boundary"),
    ("test_streaming.py", "test_watermark_drops_late_data_in_append_mode"),
    ("test_streaming.py", "test_stateful_record_breakers_across_micro_batches"),
    ("test_streaming.py", "test_merge_dialect_executes_live_on_derby"),
    ("test_streaming.py", "test_streaming_sprt_state_across_micro_batches"),
    ("test_streaming.py", "test_streaming_funnel_discovery_state_crosses_micro_batches"),
    ("test_streaming.py", "test_session_window_merges_and_splits"),
    ("test_streaming.py", "test_streaming_cusum_state_across_micro_batches"),
    ("test_streaming.py", "test_jdbc_upsert_replay_has_no_duplicates"),
    ("test_properties.py", "test_cc_iteration_cap_guard_fires_on_deep_chains"),
    ("test_properties.py", "test_cc_two_phase_equals_propagation_on_random_graphs"),
    ("test_properties.py", "test_exact_global_ntiles_matches_spark_ntile"),
    ("test_properties.py", "test_exact_global_ranks_matches_spark_row_number"),
    ("test_properties.py", "test_exact_global_ranks_multi_spec_matches_row_number"),
    ("test_properties.py", "test_hourly_windows_partition_the_global_sum"),
    ("test_properties.py", "test_salting_preserves_aggregation"),
    ("test_properties.py", "test_two_phase_prefix_property_matches_window"),
    ("test_properties.py", "test_lpa_matches_python_reference"),
    ("test_properties.py", "test_min_per_key_dedup_is_idempotent_and_minimal"),
    ("test_properties.py", "test_portable_hash_and_feature_hashing_match_python"),
    ("test_properties.py", "test_containment_pairs_match_brute_force"),
    ("test_properties.py", "test_winnowing_core_matches_reference_on_arbitrary_docs"),
}


def _command_line_targets(config) -> list[tuple[Path, str]]:
    """(resolved path, node selector or "") for every command-line arg."""
    base = Path(config.invocation_params.dir)
    out = []
    for arg in config.args:
        path, _, sel = str(arg).partition("::")
        out.append(((base / path).resolve(), sel))
    return out


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    matched = set()
    for item in items:
        key = (item.fspath.basename, item.name.split("[")[0])
        if key in _SLOW_TESTS:
            item.add_marker(slow)
            matched.add(key)
    targets = _command_line_targets(config)
    tests_dir = REPO / "tests"
    if any(not sel and (p == tests_dir or p in tests_dir.parents) for p, sel in targets):
        # the whole suite is collected: a roster entry that matches nothing
        # is a renamed or deleted test the full tier claims to run (a file
        # that collected no items is already reported as a collection error)
        collected = {item.fspath.basename for item in items}
        stale = sorted(
            (f, t)
            for f, t in _SLOW_TESTS - matched
            if f in collected or not (tests_dir / f).exists()
        )
        if stale:
            raise pytest.UsageError(f"_SLOW_TESTS entries match no test: {stale}")
    if os.environ.get("WSP_FULL_TESTS"):
        return
    # a slow test named by node id on the command line runs
    named = [(p, sel) for p, sel in targets if sel]

    def named_explicitly(item) -> bool:
        rest = item.nodeid.partition("::")[2]
        return any(
            item.path == p and (rest == sel or rest.startswith((sel + "[", sel + "::")))
            for p, sel in named
        )

    selected, deselected = [], []
    for item in items:
        if "slow" in item.keywords and not named_explicitly(item):
            deselected.append(item)
        else:
            selected.append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    from weather_stream_processor_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from tools.oracle_check import duckdb_con

    con = duckdb_con(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry_walk(spark):
    """ONE parallel walk over every registered query at SF_SMOKE, shared
    by the three full-registry sweeps (oracle parity, the window/join
    plan guards, the decimal-output hygiene gate).

    r12 (guide §2.6 — overlap independent jobs): the three sweeps each
    walked the 488-query registry serially (~21 min combined of the
    r11 suite's 39) and each re-built every query. One walk now builds
    each query ONCE and executes them from a thread pool, so eager
    builders' jobs back-fill executors freed by the others' tails; the
    sweep tests consume the recorded (schema, executed-plan string,
    pandas frame | error) per query. Per-test failure attribution is
    unchanged — each parametrized test re-raises its own query's error.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from weather_stream_processor_spark.registry import all_queries

    # physical planning is serialized (ms-scale per query) so the plan
    # surfaces the guards parse are the same strings a serial walk would
    # record — concurrent planning was observed once to skip exchange
    # reuse and double a subtree's join count; execution stays parallel
    plan_lock = threading.Lock()

    def build(item):
        name, spec = item
        try:
            df = spec.builder(spark, SF_SMOKE)
            with plan_lock:
                plan = df._jdf.queryExecution().executedPlan().toString()
            rec = SimpleNamespace(
                schema=df.schema, plan=plan, pdf=df.toPandas(), error=None
            )
        except Exception as exc:  # noqa: BLE001 — re-raised per test
            rec = SimpleNamespace(schema=None, plan="", pdf=None, error=exc)
        return name, rec

    with ThreadPoolExecutor(max_workers=12) as pool:
        walk = dict(pool.map(build, sorted(all_queries().items())))
    # Determinism: a concurrently-running persisted_result builder's LIVE
    # cache gets substituted into any plan analyzed in the same session
    # (CacheManager is session-global), and the InMemoryRelation printout
    # then inflates the join/window surfaces the guards parse — observed:
    # simplified_silhouette 7 -> 13 crosses when another query had the
    # kmeans assignment persisted during capture. Every persisted_result
    # releases its cache before its builder returns, so once the pool has
    # drained no cache is live: recapture the few polluted plans serially.
    for name, rec in walk.items():
        if rec.error is None and "InMemoryTableScan" in rec.plan:
            df = all_queries()[name].builder(spark, SF_SMOKE)
            rec.plan = df._jdf.queryExecution().executedPlan().toString()
    return walk
