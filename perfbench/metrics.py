"""Names, units and directions of every metric the benchmark reports.

End-to-end metrics are reported by every untraced run, per-layer metrics
by every traced run (each workload's traced run covers every layer).
``BENCHMARK.json`` lists the same names.

Peak memory is a per-layer figure: the driver JVM's resident size moves
with garbage-collection timing by about a fifth from run to run, more
than an end-to-end bound can gate.
"""

from __future__ import annotations

REFRESH_QUERIES = ("total_ships", "moving_ships", "map_markers", "map_view")
REGISTRY_QUERIES = (
    "q1_pricing_summary q9_product_profit q18_large_orders j1_dashboard_join w1_latest_per_key "
    "st_sessionize pagerank_customer_supplier lpa_communities_customer_supplier "
    "aipw_ate_priority_on_revenue dedup_clusters ts_paa_topk_per_key minhash_lsh_pairs "
    "ngram_jaccard_pairs fingerprint_orders_columns bootstrap_ci_purchase_value"
).split()

# name -> (unit, better). Every workload reports all of them:
# - throughput_per_s: backlog lines drained per second (live_dashboard),
#   iterative queries per second (registry_mix)
# - latency_mean_s, latency_p99_s: event latency (live_dashboard),
#   per-query time (registry_mix)
# - refresh_s: median dashboard refresh (live_dashboard), median run of
#   the AIS dashboard queries (registry_mix)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_mean_s": ("s", "lower"),
    "latency_p99_s": ("s", "lower"),
    "refresh_s": ("s", "lower"),
}
OVERHEAD_OF = ("throughput_per_s", "latency_mean_s", "latency_p99_s", "refresh_s")


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {
        "nmea_datasource.latest_offset_ms": ("ms", "lower"),
        "nmea_datasource.read_s": ("s", "lower"),
        "nmea_datasource.source_reads_per_line": ("ratio", "lower"),
        "ais_codec.decode_s": ("s", "lower"),
        "ais_codec.decode_us_per_line": ("us", "lower"),
        "ais_codec.decoded_per_line": ("ratio", "higher"),
        "ingest.route_s": ("s", "lower"),
        "ingest.positions_kept_ratio": ("ratio", "higher"),
        "ingest.info_kept_ratio": ("ratio", "higher"),
        "enrich.lookup_s": ("s", "lower"),
        "enrich.fetch_calls": ("count", "lower"),
        "enrich.cache_hit_ratio": ("ratio", "higher"),
        "enrich.gate_kept_ratio": ("ratio", "higher"),
    }
    for mv in ("positions", "info"):
        m[f"materialize.{mv}.batches"] = ("count", "higher")
        for phase in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms"):
            m[f"materialize.{mv}.{phase}"] = ("ms", "lower")
        m[f"materialize.{mv}.mv_rows"] = ("count", "higher")
    for q in REFRESH_QUERIES:
        m[f"console.{q}.build_s"] = ("s", "lower")
        m[f"console.{q}.exec_s"] = ("s", "lower")
    m["console.mv_rows_at_refresh"] = ("count", "higher")
    for q in REGISTRY_QUERIES:
        m[f"plans.{q}.build_s"] = ("s", "lower")
        m[f"plans.{q}.plan_ms"] = ("ms", "lower")
        m[f"plans.{q}.exec_s"] = ("s", "lower")
        m[f"plans.{q}.jobs"] = ("count", "lower")
        m[f"plans.{q}.executor_run_s"] = ("s", "lower")
    m["plans.iterative_s"] = ("s", "lower")
    m["plans.shuffle_write_mb"] = ("MB", "lower")
    for k in ("start_s", "fixture_s", "warmup_s"):
        m[f"session.{k}"] = ("s", "lower")
    m["session.peak_rss_mb"] = ("MB", "lower")
    for k in OVERHEAD_OF:
        m[f"trace_overhead.{k}_pct"] = ("%", "lower")
    m["parallel_efficiency"] = ("ratio", "higher")
    return m


PER_LAYER = _per_layer()
