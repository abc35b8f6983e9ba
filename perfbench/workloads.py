"""The benchmark's workloads: which registered queries each pass runs,
the input scale, and the clock time of one warm pass (measured on a
4-vCPU VM), which turns --seconds into a fixed warm-pass count.

Why each workload exists is written in README.md and BENCHMARK.json.
"""

WORKLOADS = {
    # The reference's own pipeline: joins, aggregations, windows, a cube
    # and sessionization over the star schema and events; many short
    # plans, light construction, no stored layouts.
    "commerce": dict(
        queries="""
            engagement_vs_spend rfm revenue_cube sessionize revenue_by_region
            cohort_retention also_bought_pairs top_spenders
            """.split(),
        sf=0.001, warm_s=4.0),
    # The write path: a stream, CDC stores, merges and event windows. The
    # cold pass builds the stored layouts mix-plan-base, stream-mix-src,
    # cdc-store and cdc-seg; the warm passes read them back.
    "ingest": dict(
        queries="""
            stream_mix_ingest cdc_store_append cdc_incremental merge_upsert
            incremental_agg_merge event_time_windows event_sliding_windows
            view_click_attribution
            """.split(),
        sf=0.001, warm_s=4.2),
}
