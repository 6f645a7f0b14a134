"""What each workload runs. The lists are fixed here, not read from the
engine's own bench scripts, so the benchmark changes only when this file
does. README.md gives the reason for each choice."""

from __future__ import annotations

# ops_sf0.01: overhead-bound. Every query here spends most of its wall in
# builder work, planning and per-job scheduling at this scale. The first
# two are headliners with many eager jobs inside their builders (targets of
# the engine's job-count audit); streaming_hourly_agg replays a stream
# inside a batch call; embedding_near_dup_blocked is the cheapest headliner
# that runs Python (Arrow) workers; then the reference-surface and
# relational headliners, whose wall is almost all fixed per-query cost; last
# the four headliners that grow most with data, here at a size where their
# fixed cost still dominates.
OPS_QUERIES = [
    "source_lm_divergence_matrix",
    "rake_keyphrases",
    "streaming_hourly_agg",
    "embedding_near_dup_blocked",
    "hourly_value_by_type",
    "weather_pipeline_batch",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "top3_orders_per_customer",
    "exact_dedup_by_hash",
    "bigram_lm_perplexity",
    "prefix_filter_jaccard_join",
    "dedup_connected_components",
    "minhash_lsh_near_dup",
]

# queries whose build/exec/jobs the traced run reports one by one: those of
# the engine's job-count audit and its heavy-query list that the workload runs
TRACED_QUERIES = [
    "bigram_lm_perplexity",
    "prefix_filter_jaccard_join",
    "dedup_connected_components",
    "minhash_lsh_near_dup",
    "rake_keyphrases",
    "source_lm_divergence_matrix",
]
