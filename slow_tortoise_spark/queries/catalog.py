"""The tier table.  Every query registers itself, with its oracle, in
``_shared.REGISTRY`` where it is defined; this module, imported last,
splits the registry into two tiers.

Tiers come from ``DRIVER_CATALOG``; rotate by editing it.  The driver
hash-checks exactly these 50 queries (``QUERIES`` / ``ORACLE_SQL``);
every other registered query is the local verifier tier
(``VERIFIER_QUERIES`` / ``VERIFIER_ORACLE_SQL``), oracle-checked by
tests/oracle_harness.py.  A rotation swaps names in and out of the
table; each name moved out must keep a sibling of its operator family
in it, and no verifier query may go more than five recorded rounds
without a driver row (tests/test_catalog_contract.py).
"""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import REGISTRY

DRIVER_CATALOG = (
    "anti_join", "approx_distinct", "bm25_rank", "bpe_pairs", "bpe_train",
    "containment_pairs", "contamination", "cube_agg", "dedup_drop",
    "event_sequences", "incremental_dedup", "ivfpq_topk",
    "jsonl_roundtrip", "k_core", "lsh_edit_funnel", "mad_outliers",
    "minhash_signatures", "pack_sequences_append",
    "pack_sequences_nosplit", "pagerank_graph", "pii_redact", "pq_codes",
    "pq_topk", "profile_table", "qualifier_counts", "range_join",
    "region_id", "region_lists", "region_revenue", "rolling_window",
    "rows_per_feature", "salted_join", "semdedup_auto", "sessionize_batch",
    "simhash", "simhash16", "snapshot_time_travel", "source_cap",
    "temperature_mix", "temporal_agg_all", "temporal_agg_month",
    "temporal_agg_year", "tile_binning", "token_budget_select",
    "token_stats", "unigram_logprob", "validate_coercion",
    "weighted_timeseries", "window_rank_surface", "window_running",
)

QUERIES = {n: REGISTRY[n][0] for n in DRIVER_CATALOG}
ORACLE_SQL = {n: REGISTRY[n][1] for n in DRIVER_CATALOG}
VERIFIER_QUERIES = {
    n: fn for n, (fn, _) in REGISTRY.items() if n not in QUERIES
}
VERIFIER_ORACLE_SQL = {
    n: sql for n, (_, sql) in REGISTRY.items() if n not in QUERIES
}
