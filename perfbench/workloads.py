"""Workload definitions: which registry ids run, over which fixture scale.

Each workload is one Airflow-task-like client: a fresh process runs every
query of the workload once per pass, in an order permuted by the seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: float  # scale of the TPC-H-ish and events tables
    n_docs: int  # rows of `documents`
    n_vecs: int  # rows of `embeddings`
    # Warm pass time on a 4-core host: ``--seconds`` becomes a fixed
    # number of measured passes, so every run measures the same schedule
    # (the JIT keeps speeding queries up over the first passes, so a pass
    # count that followed the host's speed would move the result).
    nominal_pass_s: float

    def passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.nominal_pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "hiveql_reports",
            (
                "d_agg_basic", "c_join_multiway", "e_topk_per_group",
                "e_dedupe_latest", "h_json", "i_tumbling", "d_grouping_sets",
                "d_rollup", "e_sessionize_batch", "t_q01_pricing_summary",
                "t_q05_local_supplier", "t_q09_product_profit",
                "t_q18_large_volume_customer", "t_q21_last_shipper",
                "r_ads_daily_report", "r_ltv_cohort",
            ),
            sf=0.01, n_docs=500, n_vecs=500, nominal_pass_s=12.0,
        ),
        Workload(
            "llm_dedup",
            ("k_near_dedup_lsh", "k_jaccard_pairs", "k_similarity_topk",
             "k_kmeans_clusters"),
            sf=0.01, n_docs=200, n_vecs=200, nominal_pass_s=8.0,
        ),
        Workload(
            "lake_writes",
            (
                "a_sink_partitioned", "a_cdc_upsert", "a_snapshot_time_travel",
                "a_compact_small_files", "a_write_audit_publish",
                "a_cluster_by_write", "a_zorder_clustered_write",
            ),
            sf=0.002, n_docs=100, n_vecs=100, nominal_pass_s=8.0,
        ),
    )
}

# The smallest scale, for the benchmark's own tests: every workload runs
# end to end in seconds per query.
TINY = dict(sf=0.001, n_docs=100, n_vecs=100)
