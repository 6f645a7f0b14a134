"""Benchmark runner.

Times the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints, as the LAST
stdout line, ONE COMPACT JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>,
   "calib_sec": ..., "value_secondary": ..., "value_third": ...}

Output framing contract (r4 postmortem): the driver records only a ~2000
char tail of stdout, and round 4's single line — which then carried both
raw passes, the secondary per-query map, and the sf1 third point — outgrew
it, so the round's bench evidence was lost (`BENCH_r04.json` parsed:null).
The fix is structural, not cosmetic: the FULL detail object (both raw
passes, per-query secondary/third maps, scale ratios, out_rows) is written
to BENCH_DETAIL.json next to this file, and stdout gets only the compact
summary line, emitted last, with a hard length guard (_MAX_LINE) that
drops the per-query map before it ever exceeds the tail window.

The secondary scale point ($SPARK_GRAFT_SF_DIR2, default
/root/testdata/sf0.01, set empty to skip) turns one-off scaling probes
into a tracked per-round signal: a query whose sf0.1/sf0.01 wall ratio is
anomalous versus its plan class (scan-bound ~linear, fixed-point loops
~rounds-bound, streaming ~micro-batch-bound) regressed in plan shape even
if its absolute time still looks fine.

Each query is fully materialized through a noop datasource write (all
partitions computed on executors, nothing collected to the driver) — the
honest cost of the plan, not of toPandas.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# the representative slice of SURVEY §2's inventory: reference surface,
# relational heavies, every LLM-pipeline family, and the streaming engine
HEADLINE = [
    "hourly_value_by_type",
    "weather_pipeline_batch",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "broadcast_dim_join",
    "top3_orders_per_customer",
    "running_sum_by_user",
    "asof_join_last_view",
    "salted_skew_join",
    "exact_dedup_by_hash",
    "ngram_jaccard_pairs",
    "minhash_lsh_near_dup",
    "simhash_hamming_near_dup",
    "dedup_connected_components",
    "cosine_topk_exact",
    "knn_join_topk",
    "embedding_cosine_near_dup",
    "embedding_near_dup_blocked",
    "ann_ivf_topk",
    "ann_pq_topk",
    "tfidf_top_term_per_doc",
    "bm25_top_docs",
    "prefix_filter_jaccard_join",
    "bigram_lm_perplexity",
    "quality_scores",
    "training_mixture_pipeline",
    "multimodal_asset_features",
    "streaming_hourly_agg",
    "streaming_dedup_replay",
    # round-4c families: custom stateful streaming, keyphrase extraction,
    # hybrid retrieval, graph communities, provenance dedup
    "streaming_cusum_monitor",
    "rake_keyphrases",
    "hybrid_rrf_fusion",
    "label_propagation_communities",
    "cross_source_overlap_matrix",
    # round-7 additions: winnowing selection, exact all-kNN graph
    "winnowing_fingerprints",
    "mutual_knn_pairs",
    # round-5 (current) additions: bloom prefilter, MG heavy hitters,
    # cross-label GEMM, substring-dedup action scores, tier cascade
    "bloom_filter_decontam",
    "heavy_hitters_exact",
    "hard_negative_mining",
    "memorization_risk_scores",
    "dedup_cascade_report",
    # round-5c additions: evaluation surface (exact AUC, IR scorecard),
    # density outliers on the all-kNN grid, RAG chunk manifest
    "roc_auc_exact",
    "ndcg_retrieval_eval",
    "lof_outlier_scores",
    "rag_chunk_manifest",
    # round-5h..5k additions: PAV-as-joins calibration, one-pass Poisson
    # bootstrap, mergeable count-min probe, Dawid-Skene relabel
    "isotonic_calibration_bins",
    "poisson_bootstrap_ci",
    "countmin_sketch_rollup",
    "dawid_skene_correction",
    # round-6 additions: sequence packing, streaming SCD2 maintenance,
    # bitmap set algebra, byte-level CDC chunk dedup, BPE trainer stats,
    # recursive-hierarchy rollup (first tracked walls: BENCH_r06)
    "concat_chunk_packing_manifest",
    "streaming_scd2_dimension",
    "bitmap_index_set_algebra",
    "content_defined_chunking",
    "bpe_pair_frequencies",
    "bom_rollup_explosion",
    # round-11 additions (r10 verdict task 7 — the attestation record is
    # closing, so the newest plan families join the headline map as
    # ADDITIONS, the r4c precedent): the vocab-grid LM divergence matrix
    # and the first-occurrence funnel-conformance plan
    "source_lm_divergence_matrix",
    "funnel_conformance_sequences",
]

# the sf1-equivalent (10x replica) subset: the heaviest headliners
SF1_QUERIES = [
    "bigram_lm_perplexity",
    "prefix_filter_jaccard_join",
    "dedup_connected_components",
    "minhash_lsh_near_dup",
    "q3_shipping_priority",
    "ngram_jaccard_pairs",
    "training_mixture_pipeline",
    "q5_local_supplier_volume",
    "tfidf_top_term_per_doc",
    "bm25_top_docs",
    "q1_pricing_summary",
    # similarity family over the replicated (10x) embedding corpus; the
    # query vector's replicas appear as exact-duplicate neighbors, which
    # is fine for a timing point
    "cosine_topk_exact",
    "knn_join_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    # round-7 headliner (flat at 10x: per-doc window work only)
    "winnowing_fingerprints",
    # round-7 scale-path rewrites: the Arrow gear pass (chunks, not
    # chars, on the shuffle) and the two-phase distributed prefix-sum —
    # the 10x point measures the plans the r6 verdict flagged, repaired
    "content_defined_chunking",
    "concat_chunk_packing_manifest",
]


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class PlanTimeCounters:
    """Plan-time work per pass, read over py4j (no UI, no listener).

    - ``codegen_compilations`` / ``codegen_compile_ms``: Janino compiles,
      i.e. misses of the JVM-wide whole-stage codegen cache, from
      ``CodegenMetrics`` and ``CodeGenerator.compileTime``;
    - ``schema_inference_jobs``: parquet footer-inference jobs, which the
      status store names ``parquet at <call site>``.

    The status store keeps only the newest ``spark.ui.retainedJobs``
    (1000) jobs, so ``tick()`` after every query keeps a pass's job scan
    inside that window.
    """

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._last_job = -1
        self.begin()

    def _codegen(self) -> tuple[int, float]:
        return self._hist.getCount(), self._gen.compileTime() / 1e6

    def _inference_jobs(self) -> int:
        """Inference jobs started since the previous scan."""
        self._sc.listenerBus().waitUntilEmpty()
        n, last = 0, self._last_job
        # newest first: the store lists jobs in descending id order
        for j in self._conv.asJava(self._sc.statusStore().jobsList(None)):
            if j.jobId() <= self._last_job:
                break
            last = max(last, j.jobId())
            n += j.name().startswith("parquet at ")
        self._last_job = last
        return n

    def begin(self) -> None:
        self._inference_jobs()
        self._infer = 0
        self._c0 = self._codegen()

    def tick(self) -> None:
        self._infer += self._inference_jobs()

    def end(self) -> dict:
        self.tick()
        n, ms = self._codegen()
        return {
            "codegen_compilations": n - self._c0[0],
            "codegen_compile_ms": round(ms - self._c0[1], 1),
            "schema_inference_jobs": self._infer,
        }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from weather_stream_processor_spark.registry import all_queries
    from weather_stream_processor_spark.session import get_spark

    spark = get_spark("bench")
    specs = all_queries()

    # warm the session so query 1 measures the query, not global init:
    # JVM/codegen, the Arrow python-worker pool, and the parquet reader
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    from weather_stream_processor_spark.sources import load_table

    load_table(spark, sf_dir, "region").count()

    # fixed-work calibration probe: a pure-JVM codegen job whose cost is
    # independent of the repo's code. Round-over-round query deltas that
    # track calib_sec are host-speed noise (shared machine), not plan
    # regressions — r2->r3 showed a uniform ~1.7x shift on UNCHANGED
    # queries that this makes diagnosable.
    t0 = time.perf_counter()
    spark.range(400_000_000).selectExpr("sum(id * 2 + 1)").collect()
    calib = round(time.perf_counter() - t0, 3)

    # Python-worker calibration probe (r9 verdict task 2): calib_sec sees
    # only the JVM codegen path, but about half the headline set spends
    # its wall in Python workers + Arrow serialization — the r9 session's
    # uniform 1.21x headline drift was invisible to the JVM probe (1.04x)
    # precisely because the Python side was never priced. This is a
    # fixed-work mapInPandas job: 8M rows shipped to 32 partitions over
    # Arrow, a fixed numpy kernel per batch, scalars back. A cross-round
    # drift that tracks calib_py_sec but not calib_sec is Python-runtime /
    # host noise, not a plan regression; one that tracks neither is real.
    def _py_probe(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            x = pdf["id"].to_numpy(dtype=_np.float64)
            acc = 0.0
            for _ in range(40):
                acc += float(_np.dot(x, x))
            yield _pd.DataFrame({"v": [acc]})

    t0 = time.perf_counter()
    spark.range(8_000_000).repartition(32).mapInPandas(
        _py_probe, "v double"
    ).write.mode("overwrite").format("noop").save()
    calib_py = round(time.perf_counter() - t0, 3)

    # plan-time work of each pass: codegen compilations and schema
    # inference jobs, read between queries, outside every timed window
    counters = PlanTimeCounters(spark)
    plan_time: dict[str, dict] = {}

    def run_pass(at_dir: str, label: str) -> dict[str, float]:
        timings: dict[str, float] = {}
        counters.begin()
        for name in HEADLINE:
            t0 = time.perf_counter()
            materialize(specs[name].builder(spark, at_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
            counters.tick()
        plan_time[label] = counters.end()
        return timings

    # two passes, per-query MIN: this host is shared and single-pass wall
    # time swings 2x run-to-run on identical code (see calib_sec); the min
    # of two passes measures the plan, not the noisy neighbor. Both raw
    # passes are recorded (queries_passes) so a cross-round delta can be
    # attributed: min within the pass-to-pass spread = scheduling noise;
    # min outside it = a real plan change (r3 verdict task 4).
    p1, p2 = run_pass(sf_dir, "p1"), run_pass(sf_dir, "p2")
    timings = {k: min(p1[k], p2[k]) for k in p1}
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_passes": {k: [p1[k], p2[k]] for k in p1},
        "sf": sf,
        "calib_sec": calib,
        "calib_py_sec": calib_py,
        "agg": "min_of_2_passes",
        "plan_time_passes": plan_time,
    }

    sf2_dir = os.environ.get("SPARK_GRAFT_SF_DIR2", "/root/testdata/sf0.01")
    if sf2_dir and os.path.isdir(sf2_dir) and sf2_dir != sf_dir:
        timings2 = run_pass(sf2_dir, "secondary")
        out["sf_secondary"] = float(
            os.path.basename(sf2_dir.rstrip("/")).removeprefix("sf") or "0"
        )
        out["value_secondary"] = round(sum(timings2.values()), 3)
        out["queries_secondary"] = timings2

    # third scale point: sf1-equivalent (fact tables of $SPARK_GRAFT_SF_DIR
    # replicated K=10x with offset keys so join/group cardinalities scale).
    # Single pass over the most expensive headliners — three points per
    # query turn the scale-posture docstrings into measured curves; a
    # wall ratio far above K on 32 threads is a superlinear red flag.
    # Set SPARK_GRAFT_SF1=0 to skip.
    k = int(os.environ.get("SPARK_GRAFT_SF1", "10"))
    if k > 1 and abs(sf - 0.1) < 1e-9:
        from tools.scale_probe import build_replica_dir

        replica = build_replica_dir(spark, k)
        # batch queries only: the streaming replay source stages single
        # fixture FILES via symlink and does not see the replica's
        # directory-shaped parquet (it would time an empty stream).
        # NOTE on reading the ratios: replication clones every document
        # K times, so near-dup operators' OUTPUT grows ~K^2/2 pairs per
        # clone-group; their wall ratio is expected above K and is
        # sublinear in output. out_rows (untimed count() after the timed
        # materialization) makes that a per-round measured invariant
        # instead of a one-off prose claim (r4 verdict task 5).
        sf1_queries = SF1_QUERIES
        timings1x = {}
        out_rows = {}
        counters.begin()
        for name in sf1_queries:
            # builder() must sit INSIDE the timed window: persisted_result
            # operators execute eagerly at build time, so timing only the
            # noop write would record ~0 for exactly the heaviest queries
            t0 = time.perf_counter()
            df = specs[name].builder(spark, replica)
            materialize(df)
            timings1x[name] = round(time.perf_counter() - t0, 3)
            # untimed count on the SAME DataFrame: re-invoking builder()
            # would eagerly re-run the heaviest pipelines a second time
            out_rows[name] = df.count()
            counters.tick()
        plan_time["third"] = counters.end()
        out["sf_third"] = round(sf * k, 3)
        out["value_third"] = round(sum(timings1x.values()), 3)
        out["queries_third"] = timings1x
        out["third_out_rows"] = out_rows
        out["third_scale_ratio"] = {
            name: round(timings1x[name] / timings[name], 2)
            for name in sf1_queries
            if timings.get(name)
        }

    # corpus mass stats: text-family walls scale with TOKEN MASS, not row
    # count, and the fixtures are regenerated by the driver each round —
    # r5 measured the whole shingle/LM family uniformly ~2-3x slower than
    # r4 on identical round-start code while relational ops and the
    # fixed-work calib were flat. Recording the mass makes that class of
    # cross-round delta attributable instead of argued (see BASELINE.md).
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.selectExpr(
        "count(*) AS n_docs",
        "sum(size(split(text, ' '))) AS total_tokens",
    ).collect()[0]
    out["corpus_stats"] = {
        "n_docs": int(stats.n_docs),
        "total_tokens": int(stats.total_tokens),
    }

    # --- output framing: full detail to file, compact line to stdout ---
    detail_path = Path(_REPO) / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(compact_bench_line(out))


_MAX_LINE = 1900  # driver tail window is ~2000 chars; stay inside it

# Shedding priority when the compact line outgrows the tail window (r12,
# the r11 verdict's task 7): every key here is round-invariant metadata or
# a secondary scalar that ALSO lives in BENCH_DETAIL.json, so each is shed
# before a single per-query wall is lost — the map's cross-round evidence
# is the valuable part. Ordered least-valuable-on-stdout first. The
# contract keys (metric, value, unit, sf, queries) are never shed.
_SHED_ORDER = (
    "detail",
    "agg",
    "calib_py_sec",
    "calib_sec",
    "sf_third",
    "value_third",
    "sf_secondary",
    "value_secondary",
)


def compact_bench_line(out: dict, max_line: int = _MAX_LINE) -> str:
    """Render the one-line stdout summary from the full detail dict.

    Degrades GRACEFULLY as the headline map grows (r6 verdict task 5):
    first shed the metadata keys in _SHED_ORDER (all recorded in
    BENCH_DETAIL.json), then — only if the map alone still overflows —
    shed the longest-named query walls one at a time with an explicit
    "q_dropped" count, never silently losing the whole map (the r4
    lost-evidence failure mode). tests/test_bench_line_budget.py pins
    that at headline-map size +5 no wall is shed.
    """
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "calib_sec": out["calib_sec"],
        "calib_py_sec": out["calib_py_sec"],
        "agg": out["agg"],
        "detail": "BENCH_DETAIL.json",
        # per-query walls rounded to 2dp keep each entry ~28 chars
        "queries": {name: round(sec, 2) for name, sec in out["queries"].items()},
    }
    for key in ("sf_secondary", "value_secondary", "sf_third", "value_third"):
        if key in out:
            compact[key] = out[key]
    line = json.dumps(compact, separators=(",", ":"))
    for key in _SHED_ORDER:
        if len(line) <= max_line:
            break
        compact.pop(key, None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > max_line:
        # next rung before losing any entry: coarsen every wall to 1dp
        # (~1 char/entry; full 3dp precision is in BENCH_DETAIL.json) and
        # say so ("q_1dp") so a cross-round reader prices the rounding in
        compact["q_1dp"] = 1
        compact["queries"] = {
            n: round(s, 1) for n, s in compact["queries"].items()
        }
        line = json.dumps(compact, separators=(",", ":"))
    dropped = 0
    while len(line) > max_line and compact["queries"]:
        longest = max(compact["queries"], key=len)
        del compact["queries"][longest]
        dropped += 1
        compact["q_dropped"] = dropped
        line = json.dumps(compact, separators=(",", ":"))
    # last-ditch: the tail-window guarantee must hold unconditionally
    # (r8 advice) even if the contract keys alone ever outgrow it. The
    # map's annotations go with it: a q_dropped or q_1dp left without a
    # queries map would describe walls the line no longer carries.
    if len(line) > max_line:
        for key in ("queries", "q_dropped", "q_1dp"):
            compact.pop(key, None)
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
